package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.RunScope.ScratchCacheOps

/** The composite corpus-preparation pipeline — the LLM-side analogue of
  * `etl_full_pipeline` (beyond-reference surface; builder brief): the
  * per-stage entries (`text_quality`, `exact_dedup`, `simhash_dedup`,
  * `decontaminate_fuzzy`, `token_budget_select`) each verify one kernel,
  * but none can pin the STAGE ORDERING a real training-data prep run
  * commits to — and ordering is semantic here: near-dup pairs are
  * computed among quality survivors only (a pair whose partner was
  * quality-dropped must not drop the survivor), exact-dup keepers are
  * chosen among survivors (if a duplicate group's min doc was gated
  * out, the next-smallest survivor is the keeper), and the token budget
  * fills from whatever remains after decontamination. `corpus_prep_pipeline`
  * emits the selected manifest and `corpus_prep_funnel` the one-row
  * stage-count report — together the whole funnel is hash-gated, not
  * just its pieces.
  *
  * Stage policies (each reuses the shared kernel so the definition
  * exists once per engine):
  *  1. Quality gate: keep `quality_score >= `[[TextAnalysis.LowQuality]]
  *     (the same bar the per-source quality report counts against),
  *     scores from [[TextAnalysis.qualityFrame]].
  *  2. Exact dedup: keep the min doc_id per md5(text) group among
  *     survivors.
  *  3. Near-dup drop, EDGE-GREEDY: drop every doc that is the larger
  *     member of a [[Dedup.simhashDedupFrom]] pair (Hamming ≤ 7) among
  *     remaining survivors. This is deliberately the single-pass policy,
  *     not [[Dedup.dedupClusters]]' cluster-canonical one: a composite
  *     that ran iterative connected components could not be expressed as
  *     one oracle statement, and the greedy policy is what a one-pass
  *     production filter applies anyway. On a chain a—b—c with no a—c
  *     edge the two differ (greedy keeps a and drops b, c; clustering
  *     keeps min(component)) — the policy CHOICE is part of what this
  *     entry pins.
  *  4. Decontamination: drop test-split documents themselves
  *     ([[Sampling.hashSplitFrom]] — the training corpus is train+val
  *     only) and every survivor flagged by the FUZZY near-dup audit
  *     [[Decontaminate.decontaminateFuzzy]] — the same drop policy the
  *     registered `decontaminate_apply` entry commits to (the exact
  *     ≥1-shared-trigram audit is a REPORT, not a drop rule: on this
  *     corpus it flags ~99% of documents, which is exactly why pipelines
  *     quarantine on whole-document similarity and only audit on n-gram
  *     hits). Both are per-document predicates against corpus-level
  *     reference sets (the split function and the full-corpus test
  *     side), so reusing the registered kernels' full-corpus output and
  *     semi/anti-joining is exactly equivalent to recomputing them over
  *     survivors.
  *  5. Budget: fill [[PrepTokenBudget]] tokens in (quality_score DESC,
  *     doc_id) order — best documents first, deterministic tie-break —
  *     via [[Tables.globalRunningSum]]'s two-phase prefix sum.
  *
  * Scale shape: the gate join is a co-partitioned equi-join on the
  * primary key; exact-dedup is one hash aggregate on md5(text);
  * the near-dup stage is the banded SimHash kernel (shuffle-free native
  * fingerprints, band-bucketed candidates — never all-pairs); the
  * decontamination drops are semi/anti-joins against near-dup-sized and
  * benchmark-sized sets (broadcastable); the budget prefix sum is the
  * two-phase range-partitioned kernel, no single-task funnel. Nothing in
  * the funnel materializes more than pair-list-sized intermediates; the
  * funnel report is six single-row global aggregates cross-joined
  * (1×1 joins, map-side collapsed).
  */
object CorpusPrep {

  /** Token budget for the final selection stage — sized so the selection
    * is a strict subset at every test SF (same run-config stance as
    * [[Sampling]]'s budget). Shared with the oracle SQL. */
  private val PrepTokenBudget = 15000L

  /** The staged survivor frames, shared by the manifest and the funnel
    * report so both entries describe the identical run. `picked` carries
    * (doc_id, split, n_tokens, quality_score, cum_tokens), unordered.
    *
    * Each entry builds its own stages() — deliberately NOT memoized
    * across entries: the stage caches are run-scoped scratch
    * ([[graft.RunScope]], released by the harness when the entry's
    * action completes), so each entry pays — and its bench number
    * reports — its own full funnel cost, order-independently. Sharing
    * one cached funnel across the pair would make whichever entry ran
    * second look nearly free (ADVICE r16 adjudication). */
  private[graft] case class Stages(docs: DataFrame, gated: DataFrame,
    exact: DataFrame, nd: DataFrame, clean: DataFrame, picked: DataFrame)

  /** `wideNearDup = true` runs stage 3 on the 120-bit
    * [[Dedup.simhashDedupWideFrom]] kernel instead of the 60-bit
    * [[Dedup.simhashDedupFrom]] — the production width SCALE.md names as
    * the scale path once 60-bit band occupancy saturates. The registered
    * entries keep the 60-bit default (their oracle nests the 60-bit
    * kernel's SQL, and the two widths legitimately pin different
    * near-dup predicates); CorpusPrepSpec proves the composite rides the
    * wide kernel by reconciling its stage counts against an independent
    * recomputation. */
  private[graft] def stages(spark: SparkSession, dir: String,
      wideNearDup: Boolean = false): Stages = {
    val docs = Tables.spread(Tables.documents(spark, dir))
    // stage 1: quality gate — the scorer is per-row expressions over
    // `text` (TextAnalysis.withQualityScore, the same columns
    // qualityFrame selects), so score the ONE scan directly instead of
    // joining the corpus back to a second scored scan on the primary
    // key (r22, guide §2.4: the 25× stage profile put the gate at
    // 5-6 s of the ~16 s funnel, and the pk self-join + duplicate
    // text scan was pure plan waste — row-identical by construction).
    // gated/exact are each read by 2-3 downstream branches (and the
    // funnel report counts every stage), so cache the survivor frames —
    // run-scoped scratch, spilling to disk past memory, same stance as
    // dedup_eval's cached shingle pass
    val gated = TextAnalysis.withQualityScore(docs)
      .filter(col("quality_score") >= TextAnalysis.LowQuality)
      .select("doc_id", "text", "n_tokens", "quality_score")
      .scratchCache()
    // stage 2: exact dedup — min doc_id per identical text, among survivors
    val keepers = gated
      .groupBy(md5(col("text")).as("k"))
      .agg(min(col("doc_id")).as("doc_id"))
    val exact = gated.join(keepers.select("doc_id"), Seq("doc_id"), "left_semi")
      .scratchCache()
    // ONE full-corpus shingle pass (r21, guide §2.4 "remove passes"):
    // stage 3 shingles its survivors and stage 4's fuzzy audit shingles
    // the whole corpus — but a document's shingles depend only on its
    // text, so the survivor frame IS the full-corpus frame semi-joined
    // to survivor ids. Shingle once, cache, and let stage 3 filter it;
    // the old shape paid the split+trigram+distinct chain twice.
    val shAll = Sampling.hashSplitFrom(Dedup.shinglesOf(docs), col("doc_id"))
      .select("doc_id", "split", "shingles")
      .scratchCache() // read by: fuzzy bands + 2 confirm joins + stage-3 semi
    // stage 3: near-dup edge-greedy drop among survivors
    val exactSh = shAll.join(exact.select("doc_id"), Seq("doc_id"), "left_semi")
    val ndPairs =
      if (wideNearDup) Dedup.simhashDedupWideFrom(exactSh)
      else Dedup.simhashDedupFrom(exactSh)
    val ndDrop = ndPairs.select(col("doc_b").as("doc_id")).distinct()
    val nd = exact.join(ndDrop, Seq("doc_id"), "left_anti").scratchCache()
    // stage 4: test split out; fuzzy-contaminated docs out
    val trainSide = Sampling.hashSplitFrom(nd, col("doc_id"))
      .filter(col("split") =!= "test")
    val flagged = Decontaminate.decontaminateFuzzyFrom(shAll)
      .select("doc_id").distinct()
    val clean = trainSide.join(flagged, Seq("doc_id"), "left_anti")
      .select("doc_id", "split", "n_tokens", "quality_score")
      .scratchCache()
    // stage 5: quality-first token-budget fill
    val picked = Tables.globalRunningSum(clean,
        Seq(col("quality_score").desc, col("doc_id")), col("n_tokens"), "cum_tokens")
      .filter(col("cum_tokens") - col("n_tokens") < PrepTokenBudget)
      .select("doc_id", "split", "n_tokens", "quality_score", "cum_tokens")
    Stages(docs, gated, exact, nd, clean, picked)
  }

  /** The selected-corpus manifest, in fill order. */
  def corpusPrep(spark: SparkSession, dir: String): DataFrame =
    stages(spark, dir).picked.orderBy("cum_tokens")

  /** One-row funnel report: how many documents each stage admitted and
    * what the selection spent — the dashboard a prep run publishes next
    * to its manifest (and the first place a mis-sized gate, cap, or
    * budget shows up). */
  def corpusPrepFunnel(spark: SparkSession, dir: String): DataFrame = {
    val s = stages(spark, dir)
    s.docs.agg(count(lit(1)).as("n_input"))
      .crossJoin(s.gated.agg(count(lit(1)).as("n_gated")))
      .crossJoin(s.exact.agg(count(lit(1)).as("n_exact_kept")))
      .crossJoin(s.nd.agg(count(lit(1)).as("n_after_neardup")))
      .crossJoin(s.clean.agg(count(lit(1)).as("n_clean")))
      .crossJoin(s.picked.agg(count(lit(1)).as("n_selected"),
        coalesce(max(col("cum_tokens")), lit(0L)).as("tokens_selected")))
  }

  /** The shared CTE chain (through `picked`); the near-dup and
    * decontamination stages nest the registered kernels' own oracle
    * statements (the [[Dedup.dedupEvalSql]] composition pattern), so each
    * stage's SQL definition still exists exactly once. */
  private val prepCtesSql: String =
    s"""${TextAnalysis.qualityCteSql},
       |scored AS (
       |  SELECT doc_id, text, CAST(n_tokens AS BIGINT) AS n_tokens,
       |         ${TextAnalysis.qualityScoreSql} AS quality_score
       |  FROM t
       |), gated AS (
       |  SELECT * FROM scored WHERE quality_score >= ${TextAnalysis.LowQuality}
       |), keepers AS (
       |  SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5(text)
       |), exact AS (
       |  SELECT g.* FROM gated g WHERE g.doc_id IN (SELECT doc_id FROM keepers)
       |), nd_drop AS (
       |  SELECT DISTINCT doc_b AS doc_id
       |  FROM (${Dedup.simhashDedupSqlFrom("exact")})
       |), nd AS (
       |  SELECT * FROM exact WHERE doc_id NOT IN (SELECT doc_id FROM nd_drop)
       |), sp AS (
       |  SELECT doc_id, n_tokens, quality_score,
       |         ${Sampling.splitBucketSql} AS bucket
       |  FROM nd
       |), clean AS (
       |  SELECT doc_id, ${Sampling.splitCaseSql} AS split,
       |         n_tokens, quality_score
       |  FROM sp
       |  WHERE ${Sampling.splitCaseSql} <> 'test'
       |    AND doc_id NOT IN (SELECT doc_id FROM (${Decontaminate.decontaminateFuzzySql}))
       |), sel AS (
       |  SELECT doc_id, split, n_tokens, quality_score,
       |         CAST(sum(n_tokens) OVER (ORDER BY quality_score DESC, doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |           AS cum_tokens
       |  FROM clean
       |), picked AS (
       |  SELECT doc_id, split, n_tokens, quality_score, cum_tokens FROM sel
       |  WHERE cum_tokens - n_tokens < $PrepTokenBudget
       |)""".stripMargin

  val corpusPrepSql: String =
    s"""WITH $prepCtesSql
       |SELECT doc_id, split, n_tokens, quality_score, cum_tokens
       |FROM picked ORDER BY cum_tokens""".stripMargin

  val corpusPrepFunnelSql: String =
    s"""WITH $prepCtesSql
       |SELECT (SELECT count(*) FROM documents) AS n_input,
       |       (SELECT count(*) FROM gated) AS n_gated,
       |       (SELECT count(*) FROM exact) AS n_exact_kept,
       |       (SELECT count(*) FROM nd) AS n_after_neardup,
       |       (SELECT count(*) FROM clean) AS n_clean,
       |       (SELECT count(*) FROM picked) AS n_selected,
       |       (SELECT coalesce(max(cum_tokens), 0) FROM picked) AS tokens_selected""".stripMargin
}
