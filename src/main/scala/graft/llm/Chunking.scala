package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Sliding-window document chunking — the pass that turns a raw corpus
  * into model-sized training/retrieval units (cf. the reference's
  * row-level ETL reshaping, python.py:66-185, generalized per SURVEY
  * §2.10 to the LLM-pipeline surface). Every RAG index and most
  * pretraining data loaders consume fixed-size token windows with a
  * small overlap so no sentence is ever split across a hard boundary
  * without context on either side.
  */
object Chunking {

  /** Window of [[ChunkTokens]] whitespace tokens, stride [[ChunkStride]]
    * (overlap = window - stride). Chunks start at 0, stride, 2*stride, …
    * while the start is inside the document, so every token lands in at
    * least one chunk and short docs yield exactly one chunk.
    * (private[graft] so specs recompute spans at the real width instead
    * of duplicating the constant.) */
  private[graft] val ChunkTokens = 64
  private val ChunkStride = 48

  /** One output row per (doc, window): chunk ordinal, token offset, the
    * chunk's token count and re-joined text.
    *
    * Shape at 100 TB: entirely map-side — tokenize, generate the stride
    * starts with `sequence` (a per-row array, NOT a join against a
    * numbers table), `posexplode`, `slice`, `array_join`; no shuffle
    * anywhere except the presentation sort. Output fan-out is bounded:
    * ceil(n_tokens / stride) rows per doc, each a near-fixed-size
    * window, which is exactly the row-size distribution downstream
    * loaders want. */
  def docChunks(spark: SparkSession, dir: String): DataFrame =
    chunksFrame(spark, dir).orderBy("doc_id", "chunk_id")

  /** The normalized token frame every chunk entry tokenizes from —
    * factored so [[chunkDedupApply]]'s strip branch reuses ONE
    * tokenization pass instead of re-running the regex split over the
    * corpus (review finding, r17). Spread: per-doc tokenize/explode work
    * serializes on a single-split scan (identity at real scale, see
    * Tables.spread). */
  private[llm] def tokFrame(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("toks"))

  /** The unordered chunk frame, shared by [[docChunks]] and
    * [[chunkDedup]] so both see identical windows. */
  private[llm] def chunksFrame(spark: SparkSession, dir: String): DataFrame =
    chunksFrameFrom(tokFrame(spark, dir))

  /** The window math over a (doc_id, toks) frame: (doc_id, chunk_id,
    * start_tok, n_tokens, chunk_text), one row per window. */
  private def chunksFrameFrom(tok: DataFrame): DataFrame = {
    val d = tok.withColumn("n", size(col("toks")))
    d.select(col("doc_id"), col("toks"), col("n"),
        posexplode(sequence(lit(0), greatest(col("n") - 1, lit(0)),
          lit(ChunkStride))))
      .withColumnRenamed("pos", "chunk_id")
      .withColumnRenamed("col", "start_tok")
      .select(col("doc_id"), col("chunk_id").cast("long"),
        col("start_tok").cast("long"),
        least(lit(ChunkTokens), col("n") - col("start_tok")).cast("long")
          .as("n_tokens"),
        array_join(slice(col("toks"), col("start_tok") + 1, lit(ChunkTokens)), " ")
          .as("chunk_text"))
  }

  /** The shared chunk CTE (`ch`: doc_id, chunk_id, start_tok, n_tokens,
    * chunk_text) — one SQL definition of the window math for every
    * chunk-consuming oracle. */
  private val chunkCteSql: String =
    s"""d AS (
       |  SELECT doc_id,
       |         string_split_regex(lower(trim(text)), '\\s+') AS toks
       |  FROM documents
       |), n AS (
       |  SELECT doc_id, toks, len(toks) AS n,
       |         range(0, greatest(n, 1), $ChunkStride) AS starts
       |  FROM d
       |), ch AS (
       |  SELECT doc_id,
       |         CAST(generate_subscripts(starts, 1) - 1 AS BIGINT) AS chunk_id,
       |         CAST(unnest(starts) AS BIGINT) AS start_tok,
       |         CAST(least($ChunkTokens, n - unnest(starts)) AS BIGINT) AS n_tokens,
       |         array_to_string(
       |           list_slice(toks, unnest(starts) + 1,
       |                      unnest(starts) + $ChunkTokens), ' ') AS chunk_text
       |  FROM n
       |)""".stripMargin

  val docChunksSql: String =
    s"""WITH $chunkCteSql
       |SELECT doc_id, chunk_id, start_tok, n_tokens, chunk_text
       |FROM ch ORDER BY doc_id, chunk_id""".stripMargin

  /** Boilerplate-chunk census — verbatim repeated full-width windows
    * ACROSS documents (headers, footers, license blocks, navigation
    * chrome): every [[ChunkTokens]]-token chunk whose text occurs in ≥ 2
    * distinct documents, with its spread. Chunk-granular exact dedup
    * complements the document-level kernels: a Jaccard/SimHash pass
    * misses a 64-token footer pasted into thousands of otherwise-
    * unrelated pages (whole-document similarity stays low), while this
    * census finds exactly that — the fixed-window flavor of
    * `substring_dedup`'s shared-run detection, at the granularity
    * training loaders consume. Partial tail windows are excluded by
    * contract: the census counts repeated full windows, not the short
    * tails every near-dup family trivially shares.
    *
    * Scale shape: the chunk stage is the map-only [[chunksFrame]] pass;
    * the census groups on md5(chunk_text) — a fixed-width shuffle key
    * regardless of chunk bytes, one exchange with map-side partials.
    * Output is bounded by the corpus's distinct-boilerplate vocabulary,
    * not its size. */
  def chunkDedup(spark: SparkSession, dir: String): DataFrame =
    chunksFrame(spark, dir)
      .filter(col("n_tokens") === ChunkTokens)
      .groupBy(md5(col("chunk_text")).as("chunk_key"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy("chunk_key")

  val chunkDedupSql: String =
    s"""WITH $chunkCteSql
       |SELECT md5(chunk_text) AS chunk_key,
       |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |       count(*) AS n_occurrences,
       |       min(doc_id) AS first_doc
       |FROM ch
       |WHERE n_tokens = $ChunkTokens
       |GROUP BY 1
       |HAVING count(DISTINCT doc_id) >= 2
       |ORDER BY chunk_key""".stripMargin

  /** A chunk must appear in at least this many distinct documents to be
    * stripped by [[chunkDedupApply]] — the census's own ≥ 2 spread bar
    * (a window repeated across two documents is already boilerplate;
    * raise for conservative pipelines). Shared with the oracle SQL. */
  private val BoilerplateMinDocs = 2

  /** Boilerplate-chunk REMOVAL — the consumer of [[chunkDedup]]'s census
    * (VERDICT r16: every other dedup family here is detect + apply;
    * this completes the chunk family). Rewrites each document with all
    * tokens covered by an over-spread full window removed: a token is
    * dropped iff its position falls inside ANY occurrence of a chunk
    * whose text repeats in ≥ [[BoilerplateMinDocs]] distinct documents —
    * the boilerplate-strip step a training pipeline actually runs
    * (headers/footers/nav chrome excised in place, the unique prose
    * around them kept). Overlapping flagged windows union their spans.
    * Output is the normalized (lowercased, whitespace-collapsed) token
    * stream the window math itself runs on — the same normalization
    * contract as every chunk entry.
    *
    * Scale shape: reuses the census's only exchange (groupBy on
    * md5(chunk_text), fixed-width key) plus a semi-join back on the same
    * key; flagged spans then collapse to ONE array per document (keyed
    * shuffle on doc_id, output bounded by flagged-occurrence count, not
    * corpus size) and the strip itself is a per-row higher-order
    * `filter`/`exists` over the token array — map-side, no token-level
    * explode or range join anywhere. Documents with no flagged window
    * take the null-spans fast path untouched. */
  def chunkDedupApply(spark: SparkSession, dir: String): DataFrame = {
    import graft.RunScope.ScratchCacheOps
    // one tokenization pass: the census branch (occ, via the chunk
    // windows) and the strip branch (d) both read the cached token
    // frame instead of re-running the regex split over the corpus
    val d = tokFrame(spark, dir).scratchCache()
    val occ = chunksFrameFrom(d)
      .filter(col("n_tokens") === ChunkTokens)
      .select(col("doc_id"), col("start_tok"),
        md5(col("chunk_text")).as("chunk_key"))
    val flagged = occ.groupBy("chunk_key")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= BoilerplateMinDocs)
      .select("chunk_key")
    val spans = occ.join(flagged, Seq("chunk_key"), "left_semi")
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("start_tok"))).as("starts"))
    val kept = when(col("starts").isNull, col("toks"))
      .otherwise(expr(s"filter(toks, (t, i) -> " +
        s"NOT exists(starts, s -> i >= s AND i < s + $ChunkTokens))"))
    d.join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens_before"),
        size(kept).cast("long").as("n_tokens_after"),
        array_join(kept, " ").as("clean_text"))
      .orderBy("doc_id")
  }

  /** Oracle: same flagged-window spans; the strip re-derives token
    * positions by unnest-with-subscripts and anti-filters them against
    * the spans (DuckDB's list lambdas carry no index, so the exploded
    * form IS the single-sourced equivalent of Spark's indexed filter);
    * string_agg ordered by position rebuilds the text. Fully-stripped
    * and empty documents keep a row via the left join + coalesce. */
  val chunkDedupApplySql: String =
    s"""WITH $chunkCteSql, occ AS (
       |  SELECT doc_id, start_tok, md5(chunk_text) AS chunk_key
       |  FROM ch WHERE n_tokens = $ChunkTokens
       |), flagged AS (
       |  SELECT chunk_key FROM occ
       |  GROUP BY 1 HAVING count(DISTINCT doc_id) >= $BoilerplateMinDocs
       |), spans AS (
       |  SELECT doc_id, start_tok FROM occ
       |  WHERE chunk_key IN (SELECT chunk_key FROM flagged)
       |), tok AS (
       |  SELECT doc_id, unnest(toks) AS t,
       |         CAST(generate_subscripts(toks, 1) - 1 AS BIGINT) AS pos
       |  FROM d
       |), kept AS (
       |  SELECT k.doc_id, k.t, k.pos FROM tok k
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM spans s
       |    WHERE s.doc_id = k.doc_id
       |      AND k.pos >= s.start_tok AND k.pos < s.start_tok + $ChunkTokens)
       |), agg AS (
       |  SELECT doc_id, count(*) AS n_after,
       |         string_agg(t, ' ' ORDER BY pos) AS clean_text
       |  FROM kept GROUP BY doc_id
       |)
       |SELECT d.doc_id,
       |       CAST(len(d.toks) AS BIGINT) AS n_tokens_before,
       |       CAST(coalesce(agg.n_after, 0) AS BIGINT) AS n_tokens_after,
       |       coalesce(agg.clean_text, '') AS clean_text
       |FROM d LEFT JOIN agg USING (doc_id)
       |ORDER BY doc_id""".stripMargin
}
