package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Corpus-selection operators for training-data preparation (beyond-
  * reference surface): deterministic stratified sampling (data-mixing
  * weights per language) and token-budget selection (take the best
  * documents until a token budget is exhausted). Both are pure dataflow —
  * no `rand()` anywhere (SURVEY §5 determinism): sampling decisions hash
  * the primary key arithmetically, so every engine, run, and retry keeps
  * the identical rows.
  */
object Sampling {

  /** Per-mille keep rates by language — the data-mixing weights a
    * pretraining corpus applies to rebalance dominant languages.
    * Shared literal-for-literal with the oracle SQL. */
  private[llm] val RatesPerMille: Seq[(String, Int)] =
    Seq("en" -> 300, "de" -> 800, "fr" -> 800, "es" -> 800, "zh" -> 500)
  private val DefaultPerMille = 1000

  /** Deterministic per-document bucket in [0, 1000): multiplicative
    * hashing on the key, `(doc_id mod 1000003) * 2654435761 mod 1000003
    * mod 1000` (Knuth's constant; the pre-reduction keeps the product
    * under 2^52, so ANSI-mode bigint arithmetic can never overflow on
    * either engine at any doc_id). NOT `rand()`: the keep decision is a
    * pure function of the key, so re-runs, retried tasks, and the DuckDB
    * oracle all select the identical sample. */
  private def bucket1000(key: org.apache.spark.sql.Column) =
    key % 1000003L * 2654435761L % 1000003L % 1000L

  private val Bucket1000Sql =
    "doc_id % 1000003 * 2654435761 % 1000003 % 1000"

  /** Stratified sample: keep a document iff its bucket falls under its
    * language's per-mille rate. One codegen'd filter over the scan — the
    * sample is decided per row with no shuffle (the only exchange in the
    * entry is the presentation orderBy, which a pipeline consumer drops).
    * That is the whole point at 100 TB: sampling must not cost a pass
    * over the data beyond the scan itself. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val rate = RatesPerMille.foldLeft(lit(DefaultPerMille)) {
      case (acc, (lang, r)) => when(col("lang") === lang, lit(r)).otherwise(acc)
    }
    d.select(col("doc_id"), col("lang"), col("n_chars"),
        bucket1000(col("doc_id")).as("bucket"))
      .filter(col("bucket") < rate)
      .orderBy("doc_id")
  }

  val stratifiedSampleSql: String = {
    val cases = RatesPerMille
      .map { case (l, r) => s"WHEN lang = '$l' THEN $r" }.mkString(" ")
    s"""SELECT doc_id, lang, n_chars,
       |       $Bucket1000Sql AS bucket
       |FROM documents
       |WHERE $Bucket1000Sql < (CASE $cases ELSE $DefaultPerMille END)
       |ORDER BY doc_id""".stripMargin
  }

  /** Token budget for [[tokenBudgetSelect]] — selects the longest ~⅓ of
    * the sf0.01 corpus; shared with the oracle SQL. */
  private val TokenBudget = 10000L

  /** Token-budget selection: rank documents by a preference ordering
    * (longest first here; the key is pluggable) and keep documents while
    * the running token total stays inside the budget — the "take the best
    * N tokens" step of corpus assembly.
    *
    * The running sum is a GLOBAL prefix sum, which must not funnel the
    * corpus through one partition (document metadata scales with the
    * corpus — at 10¹¹ docs a single-partition window is terabytes), so it
    * runs on the two-phase [[Tables.globalRunningSum]]. Results are
    * invariant to the partition count — the ordering is total
    * ((n_chars, doc_id) has no ties) — pinned by SamplingSpec. */
  def tokenBudgetSelect(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        TextAnalysis.wsTokenCount(col("text")).cast("long").as("n_tokens"),
        col("n_chars"))
    Tables.globalRunningSum(d, Seq(col("n_chars").desc, col("doc_id")),
        col("n_tokens"), "cum_tokens")
      .filter(col("cum_tokens") - col("n_tokens") < TokenBudget)
      .select("doc_id", "lang", "n_tokens", "cum_tokens")
      .orderBy("cum_tokens")
  }

  /** Per-source document cap for [[domainCap]] — at sf0.01 keeps 15 of
    * each source's 25 docs. Shared with the oracle SQL. */
  private val DomainCapN = 15

  /** Per-domain cap: keep at most [[DomainCapN]] documents per source,
    * preferring longer documents (n_chars DESC, doc_id tie-break) — the
    * anti-domination step of corpus curation (no crawl domain may swamp
    * the mix, boilerplate-heavy domains contribute their best pages only).
    *
    * Expressed as the idiomatic rank-filter so Spark 3.5+'s
    * WindowGroupLimit kicks in: the `rank <= N` predicate is pushed below
    * the exchange as a per-mapper partial group limit, so every map task
    * ships at most N rows per source and the window-side sort sees
    * N × #mappers rows per source instead of the source's full row count.
    * That is what makes the per-source window scale-safe even when one
    * domain is a corpus-scale hot key (the value_quantiles lesson:
    * a bare per-group window funnels the group through one task — the
    * pushed group limit is what bounds it here; plan-pinned in
    * SamplingSpec). */
  def domainCap(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    d.select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("source_rank", row_number().over(w))
      .filter(col("source_rank") <= DomainCapN)
      .orderBy("doc_id")
  }

  val domainCapSql: String =
    s"""SELECT doc_id, source, n_chars,
       |       row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS source_rank
       |FROM documents
       |QUALIFY source_rank <= $DomainCapN
       |ORDER BY doc_id""".stripMargin

  /** Context-window size (tokens) for [[packSequences]]. Shared with the
    * oracle SQL. */
  private val PackBudget = 512L

  /** Sequence packing: stream documents in doc_id order into consecutive
    * fixed-size context windows of [[PackBudget]] tokens — the
    * concat-then-chunk packing step that turns a filtered corpus into
    * dense training sequences (no padding waste). Each document reports
    * the pack it STARTS in and its token offset inside that pack; a
    * document straddling a boundary spills into the next window, exactly
    * as the trainer's reader would consume it.
    *
    * pack_id = floor(exclusive-prefix-sum(n_tokens) / budget) — a pure
    * function of the global running total, so the whole operator is the
    * same two-phase distributed prefix sum as [[tokenBudgetSelect]]
    * (range-partition on the order key, parallel local sums, config-
    * bounded offset window broadcast back). No single-partition pass at
    * any corpus size, and the assignment is invariant to the partition
    * count (pinned by SamplingSpec alongside the token-budget entry). */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextAnalysis.wsTokenCount(col("text")).cast("long").as("n_tokens"))
    val cum = Tables.globalRunningSum(d, Seq(col("doc_id")), col("n_tokens"),
      "cum_tokens")
    cum
      .withColumn("cum_before", col("cum_tokens") - col("n_tokens"))
      .withColumn("pack_id", (col("cum_before") / PackBudget).cast("long"))
      .withColumn("pack_offset", col("cum_before") % PackBudget)
      .select("doc_id", "n_tokens", "pack_id", "pack_offset")
      .orderBy("doc_id")
  }

  val packSequencesSql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
       |  FROM documents
       |), c AS (
       |  SELECT doc_id, n_tokens,
       |         CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
       |  FROM t
       |)
       |SELECT doc_id, n_tokens,
       |       cum_before // $PackBudget AS pack_id,
       |       cum_before % $PackBudget AS pack_offset
       |FROM c ORDER BY doc_id""".stripMargin

  /** Split-version salt: bumping it reshuffles every assignment (a fresh
    * split epoch) without touching code; it also namespaces this split
    * from any other md5-derived key in the pipeline. Shared literal-for-
    * literal with the oracle SQL. */
  private[llm] val SplitSalt = "split-v1"

  /** (upper-exclusive percent bound, split name), ascending. 80/10/10. */
  private[llm] val SplitBounds: Seq[(Int, String)] =
    Seq(80 -> "train", 90 -> "val", 100 -> "test")

  /** Deterministic train/val/test assignment: bucket = first 8 hex chars
    * of md5("<salt>:<doc_id>") mod 100, mapped through the 80/10/10
    * bounds. The industry-standard hash-split, chosen over rand() or
    * percentile splits because it is
    *   (a) a pure per-row function — one codegen'd projection over the
    *       scan, NO shuffle, embarrassingly parallel at any corpus size
    *       (the presentation orderBy is the only exchange, and a pipeline
    *       consumer drops it);
    *   (b) stable under growth — a document's split never changes when
    *       other documents arrive or depart, so eval sets stay frozen
    *       across corpus refreshes (a percentile/ntile split re-labels
    *       everything on every ingest);
    *   (c) re-derivable anywhere — any engine with md5 reproduces the
    *       assignment from (salt, doc_id) alone, no split table to ship.
    * Leakage note: hashing doc_id keeps near-duplicates on both sides of
    * the split boundary; a leakage-tight split hashes the dedup cluster
    * id from [[Dedup.dedupClusters]] instead, so a whole near-dup cluster
    * lands in one split. Same kernel, different key column. */
  def hashSplit(spark: SparkSession, dir: String): DataFrame =
    hashSplitFrom(Tables.documents(spark, dir), col("doc_id"))
      .select("doc_id", "bucket", "split")
      .orderBy("doc_id")

  /** Kernel over any frame/key: adds `bucket` (0-99) and `split`. */
  private[graft] def hashSplitFrom(df: DataFrame, key: Column): DataFrame = {
    val bucket = conv(
      substring(md5(concat_ws(":", lit(SplitSalt), key.cast("string"))), 1, 8),
      16, 10).cast("long") % 100
    val split = SplitBounds.init.foldRight(lit(SplitBounds.last._2): Column) {
      case ((hi, name), acc) => when(col("bucket") < hi, lit(name)).otherwise(acc)
    }
    df.withColumn("bucket", bucket).withColumn("split", split)
  }

  /** Total sample budget allocated by [[neymanAllocation]]. */
  private val NeymanBudget = 1000L

  /** Neyman (optimal) stratified-sampling allocation — for a fixed
    * budget of [[NeymanBudget]] draws over the event-type strata,
    * allocate nₕ ∝ Nₕ·σₕ (stratum size × stratum stddev): the design
    * that minimizes the variance of the stratified mean, versus the
    * naive proportional nₕ ∝ Nₕ a first pass would use. The planning
    * step every serious survey/eval-sampling pipeline runs before
    * drawing (the draw itself is the deterministic [[weightedSample]] /
    * [[hashSplit]] machinery).
    *
    * Shape at 100 TB: one map-side-combined moment aggregate per
    * stratum (decimal-exact sums, the `embedding_dim_stats` discipline),
    * then all arithmetic on the strata-bounded frame. Allocations are
    * floored; the leftover draws go to the largest fractional parts
    * (largest-remainder rounding, ties by stratum name) so the
    * allocation always sums exactly to the budget. */
  def neymanAllocation(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("value").cast("decimal(18,6)")).as("sx"),
        sum(col("value").cast("decimal(18,6)") *
          col("value").cast("decimal(18,6)")).as("sxx"))
      .select(col("event_type"), col("n_rows"),
        round(sqrt((col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double") / col("n_rows")) /
          (col("n_rows") - 1)), 6).as("sigma"))
    // w stays DECIMAL so the cross-strata total is combination-order
    // exact; share/exact then derive per-row in double from identical
    // numerator/denominator pairs on both engines
    val weighted = m
      .withColumn("w", col("n_rows") * col("sigma").cast("decimal(18,6)"))
      .withColumn("share", col("w").cast("double") /
        sum(col("w")).over(Window.partitionBy()).cast("double"))
      .withColumn("exact", col("share") * NeymanBudget)
      .withColumn("floor_n", floor(col("exact")).cast("long"))
    val leftover = weighted
      .withColumn("rem_rank", row_number().over(
        Window.orderBy((col("exact") - col("floor_n")).desc, col("event_type"))))
      .withColumn("short",
        lit(NeymanBudget) - sum(col("floor_n")).over(Window.partitionBy()))
    leftover
      .select(col("event_type"), col("n_rows"), col("sigma"),
        round(col("share"), 6).as("share"),
        (col("floor_n") +
          when(col("rem_rank") <= col("short"), 1L).otherwise(0L))
          .as("n_alloc"))
      .orderBy("event_type")
  }

  val neymanAllocationSql: String =
    s"""WITH m AS (
       |  SELECT event_type, count(*) AS n_rows,
       |         sum(CAST(value AS DECIMAL(18,6))) AS sx,
       |         sum(CAST(value AS DECIMAL(18,6))
       |             * CAST(value AS DECIMAL(18,6))) AS sxx
       |  FROM events WHERE value IS NOT NULL GROUP BY 1
       |), s AS (
       |  SELECT event_type, n_rows,
       |         round(sqrt((CAST(sxx AS DOUBLE)
       |                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n_rows)
       |                    / (n_rows - 1)), 6) AS sigma
       |  FROM m
       |), w AS (
       |  SELECT event_type, n_rows, sigma,
       |         CAST(n_rows * CAST(sigma AS DECIMAL(18,6)) AS DOUBLE)
       |         / CAST(sum(n_rows * CAST(sigma AS DECIMAL(18,6))) OVER ()
       |                AS DOUBLE) AS share
       |  FROM s
       |), f AS (
       |  SELECT *, share * $NeymanBudget AS exact,
       |         CAST(floor(share * $NeymanBudget) AS BIGINT) AS floor_n
       |  FROM w
       |), r AS (
       |  SELECT *,
       |         row_number() OVER (ORDER BY exact - floor_n DESC, event_type)
       |           AS rem_rank,
       |         $NeymanBudget - sum(floor_n) OVER () AS short
       |  FROM f
       |)
       |SELECT event_type, n_rows, sigma, round(share, 6) AS share,
       |       floor_n + CASE WHEN rem_rank <= short THEN 1 ELSE 0 END
       |         AS n_alloc
       |FROM r ORDER BY event_type""".stripMargin

  /** Salt + sample size for [[weightedSample]]. */
  private val WsSalt = "ws1"
  private val WsK = 50

  /** Weighted sample without replacement (Efraimidis–Spirakis A-ES):
    * draw [[WsK]] documents with inclusion probability proportional to
    * their length, the standard way to bias a pretraining mix toward
    * long documents without a second pass. Each document gets a
    * DETERMINISTIC uniform u ∈ (0,1] from a salted md5 of its id (the
    * [[hashSplit]] idiom — reproducible across runs, growth-stable) and
    * the sample is the top-k by the A-ES key ln(u)/w (equivalent
    * ordering to u^(1/w), but ln-form avoids cross-engine pow
    * differences); w = n_chars.
    *
    * Shape at 100 TB: the key is a shuffle-free per-row projection and
    * the sample is TakeOrderedAndProject over k rows per partition — no
    * global sort, no pre-aggregation, one scan. Determinism: md5 is
    * bit-stable in both engines, the key expression is the same double
    * arithmetic, ties broken by doc_id. */
  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val h = conv(
      substring(md5(concat_ws(":", lit(WsSalt), col("doc_id").cast("string"))), 1, 8),
      16, 10).cast("double")
    val u = (h + 1.0) / 4294967296.0
    val key = log(u) / col("n_chars")
    d.withColumn("ws_key", key)
      .orderBy(col("ws_key").desc, col("doc_id"))
      .limit(WsK)
      // + 0.0 canonicalizes IEEE negative zero: a key in (-5e-7, 0)
      // rounds to -0.0 in DuckDB but 0.0 in Spark; -0.0 + 0.0 = +0.0 in
      // both, so the engines agree on the emitted bits
      .select(col("doc_id"), col("source"), col("n_chars"),
        (round(col("ws_key"), 6) + 0.0).as("ws_key"))
      .orderBy("doc_id")
  }

  val weightedSampleSql: String =
    s"""WITH k AS (
       |  SELECT doc_id, source, n_chars,
       |         ln((('0x' || substr(md5('$WsSalt:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
       |             + 1.0) / 4294967296.0) / n_chars AS ws_key
       |  FROM documents
       |), s AS (
       |  SELECT * FROM k ORDER BY ws_key DESC, doc_id LIMIT $WsK
       |)
       |SELECT doc_id, source, n_chars, round(ws_key, 6) + 0.0 AS ws_key
       |FROM s ORDER BY doc_id""".stripMargin

  /** Per-source data-mixing report — the dashboard every corpus assembly
    * job emits before training: document and token counts per crawl
    * source, its token share of the corpus, and language spread. The
    * report is what the mixing weights (see [[stratifiedSample]]) and
    * domain caps (see [[domainCap]]) are tuned against.
    *
    * Scale shape: one hash aggregate keyed on source (map-side partials;
    * all-integer sums, so no float-order concern), plus a 1-row broadcast
    * of the corpus total for the share — the whole report costs one
    * shuffle of per-source counter rows at any corpus size. */
  def sourceMixReport(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("source"), col("lang"),
        TextAnalysis.wsTokenCount(col("text")).cast("long").as("n_tokens"))
    val agg = d.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tokens")).as("n_tokens"),
      countDistinct(col("lang")).as("n_langs"))
    val total = agg.select(sum(col("n_tokens")).as("total_tokens"))
    agg.crossJoin(broadcast(total))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_langs"),
        round(col("n_tokens").cast("double") / col("total_tokens"), 6)
          .as("token_share"))
      .orderBy("source")
  }

  val sourceMixReportSql: String =
    """WITH d AS (
      |  SELECT source, lang,
      |         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
      |  FROM documents
      |), a AS (
      |  SELECT source, count(*) AS n_docs,
      |         CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
      |         count(DISTINCT lang) AS n_langs
      |  FROM d GROUP BY source
      |)
      |SELECT source, n_docs, n_tokens, n_langs,
      |       round(CAST(n_tokens AS DOUBLE) / (SELECT sum(n_tokens) FROM a), 6)
      |         AS token_share
      |FROM a ORDER BY source""".stripMargin

  /** Leakage-tight train/val/test split — the composition the
    * [[hashSplit]] scaladoc promises: hash the DEDUP CLUSTER id instead
    * of the document id, so a whole near-duplicate cluster lands on ONE
    * side of every split boundary and an eval document can never have a
    * near-copy in train. Unclustered documents key on their own id, which
    * makes this a strict refinement of the plain split: documents without
    * a near-dup keep their exact [[hashSplit]] assignment (same salt,
    * same key), so adopting the leakage-tight split only ever MOVES
    * documents that had a near-dup — pinned in SamplingSpec.
    *
    * Scale shape: the cluster table is the (small) dedup output joined
    * LEFT to the corpus — broadcast under AQE, map-only on the corpus
    * side — and the split itself stays the shuffle-free md5 projection.
    * The cluster labels come from [[Dedup.clusterLabels]], built inside
    * this call, so each execution pays the CC build plus the join and
    * split. */
  def leakageSafeSplit(spark: SparkSession, dir: String): DataFrame = {
    val clusters = Dedup.clusterLabels(spark, dir)
      .select(col("doc_id"), col("cluster_id"))
    val keyed = Tables.documents(spark, dir).select("doc_id")
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("split_key"))
    hashSplitFrom(keyed, col("split_key"))
      .select("doc_id", "split_key", "bucket", "split")
      .orderBy("doc_id")
  }

  /** Oracle: the recursive-closure cluster labels (shared CTE chain with
    * the dedup oracles) + the same salted md5 split on the coalesced key. */
  lazy val leakageSafeSplitSql: String =
    s"""WITH RECURSIVE ${Dedup.jaccardClosureCteSql}, keyed AS (
       |  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS split_key
       |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
       |), b AS (
       |  SELECT doc_id, split_key,
       |         ('0x' || substr(md5('$SplitSalt:' || CAST(split_key AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket
       |  FROM keyed
       |)
       |SELECT doc_id, split_key, bucket, $splitCaseSql AS split
       |FROM b ORDER BY doc_id""".stripMargin

  /** Split-balance audit — the QA a team runs after (re)deriving a
    * train/val/test split: per (split, language) document counts and each
    * language's share WITHIN its split. A sound hash split is
    * language-blind, so per-language shares should agree across splits up
    * to sampling noise; a systematic skew here means the split key leaked
    * a correlated attribute (e.g. hashing a language-prefixed id). Pure
    * counting — one hash aggregate over the split projection plus a
    * broadcast of the per-split totals. */
  def splitBalance(spark: SparkSession, dir: String): DataFrame = {
    val sp = hashSplitFrom(Tables.documents(spark, dir), col("doc_id"))
      .select("split", "lang")
    val cells = sp.groupBy("split", "lang").agg(count(lit(1)).as("n_docs"))
    val totals = cells.groupBy("split").agg(sum(col("n_docs")).as("n_split"))
    cells.join(broadcast(totals), "split")
      .select(col("split"), col("lang"), col("n_docs"), col("n_split"),
        round(col("n_docs").cast("double") / col("n_split"), 6).as("lang_share"))
      .orderBy("split", "lang")
  }

  /** (lazy: the split SQL fragments are declared later in this object —
    * an eager val here would interpolate null at initialization.) */
  lazy val splitBalanceSql: String =
    s"""WITH b AS (
       |  SELECT doc_id, lang, $splitBucketSql AS bucket FROM documents
       |), sp AS (
       |  SELECT lang, $splitCaseSql AS split FROM b
       |), cells AS (
       |  SELECT split, lang, count(*) AS n_docs FROM sp GROUP BY split, lang
       |), totals AS (
       |  SELECT split, CAST(sum(n_docs) AS BIGINT) AS n_split FROM cells GROUP BY split
       |)
       |SELECT c.split, c.lang, c.n_docs, t.n_split,
       |       round(CAST(c.n_docs AS DOUBLE) / t.n_split, 6) AS lang_share
       |FROM cells c JOIN totals t ON c.split = t.split
       |ORDER BY c.split, c.lang""".stripMargin

  /** The oracle-side bucket/CASE fragments, shared with every consumer of
    * the split (e.g. the decontamination audit) so the SQL stays
    * literal-for-literal one definition. */
  private[llm] val splitBucketSql: String =
    s"('0x' || substr(md5('$SplitSalt:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100"
  private[llm] val splitCaseSql: String = {
    val whens = SplitBounds.init
      .map { case (hi, name) => s"WHEN bucket < $hi THEN '$name'" }.mkString(" ")
    s"CASE $whens ELSE '${SplitBounds.last._2}' END"
  }

  val hashSplitSql: String =
    s"""WITH b AS (SELECT doc_id, $splitBucketSql AS bucket FROM documents)
       |SELECT doc_id, bucket,
       |       $splitCaseSql AS split
       |FROM b ORDER BY doc_id""".stripMargin

  /** Oracle: the naive single-window global prefix sum — correct at any
    * SF, single-partition at scale, which is exactly why the engine path
    * two-phases it. (CAST: DuckDB sum(BIGINT) returns HUGEINT.) */
  val tokenBudgetSelectSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
       |         n_chars
       |  FROM documents
       |), c AS (
       |  SELECT doc_id, lang, n_tokens,
       |         CAST(sum(n_tokens) OVER (ORDER BY n_chars DESC, doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
       |  FROM t
       |)
       |SELECT doc_id, lang, n_tokens, cum_tokens FROM c
       |WHERE cum_tokens - n_tokens < $TokenBudget
       |ORDER BY cum_tokens""".stripMargin

  /** Token budget the [[epochMixPlan]] is sized against. A literal (the
    * run config a real pipeline would pass in); the plan itself is
    * size-independent — epochs just scale with the corpus. */
  private val MixBudget = 1000000L

  /** Epoch-mix plan — the sampling schedule a pretraining run derives
    * before it touches any data: given per-language upsampling weights
    * (here: non-English ×2, the low-resource-balancing config every
    * multilingual run uses), compute each language's share of the token
    * budget and the number of EPOCHS (repeat factor) of its available
    * tokens that share implies. epochs > 1 means the language repeats;
    * epochs < 1 means it is subsampled — the two halves of the mixing
    * decision, derived from one aggregate.
    *
    * Scale shape: one corpus scan collapsing map-side into per-language
    * token counters (languages number in the hundreds at worst), a 1-row
    * weighted-total broadcast back, then pure arithmetic — the plan for a
    * 100 TB corpus costs exactly one scan, and the scan itself prunes to
    * (lang, text). */
  def epochMixPlan(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("lang"),
      TextAnalysis.wsTokenCount(col("text")).cast("long").as("tk"))
    val perLang = d.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("tk")).as("tokens"))
      .withColumn("weight",
        when(col("lang") === "en", lit(1.0)).otherwise(lit(2.0)))
    val tot = perLang.agg(sum(col("weight") * col("tokens")).as("wt"))
    perLang.crossJoin(broadcast(tot))
      .withColumn("share", col("weight") * col("tokens") / col("wt"))
      .select(col("lang"), col("n_docs"), col("tokens"), col("weight"),
        round(col("share"), 6).as("mix_share"),
        floor(col("share") * MixBudget).cast("long").as("target_tokens"),
        round(col("share") * MixBudget / col("tokens"), 4).as("epochs"))
      .orderBy("lang")
  }

  val epochMixPlanSql: String =
    s"""WITH d AS (
       |  SELECT lang, CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS tk
       |  FROM documents
       |), pl AS (
       |  SELECT lang, count(*) AS n_docs, CAST(sum(tk) AS BIGINT) AS tokens
       |  FROM d GROUP BY lang
       |), w AS (
       |  SELECT lang, n_docs, tokens,
       |         CAST(CASE WHEN lang = 'en' THEN 1.0 ELSE 2.0 END AS DOUBLE) AS weight
       |  FROM pl
       |), t AS (
       |  SELECT sum(weight * tokens) AS wt FROM w
       |)
       |SELECT lang, n_docs, tokens, weight,
       |       round(weight * tokens / wt, 6) AS mix_share,
       |       CAST(floor(weight * tokens / wt * $MixBudget) AS BIGINT) AS target_tokens,
       |       round(weight * tokens / wt * $MixBudget / tokens, 4) AS epochs
       |FROM w CROSS JOIN t ORDER BY lang""".stripMargin

  /** Salt for the in-band shuffle key — versioned so reshuffling the
    * curriculum is an explicit config change, not silent drift. */
  private val CurriculumSalt = "curriculum-v1"

  /** Length-curriculum ordering — the classic short-to-long schedule a
    * pretraining run uses: band every document by corpus-wide length
    * deciles, then give each doc a deterministic hash shuffle key WITHIN
    * its band (a curriculum that is globally easy-to-hard but unordered
    * inside a band, so batches stay i.i.d. within a difficulty level).
    * Sorting by (band, shuffle_key) IS the curriculum; the loader writes
    * files range-partitioned on that pair.
    *
    * Scale shape: the decile thresholds come from the two-phase
    * distributed-selection kernel (`groupedQuantiles`, single logical
    * group — NEVER a global window/ntile, which would funnel the corpus
    * through one task); the 1-row threshold frame broadcasts back and
    * banding + keying are a codegen'd map-only projection. Total cost at
    * 100 TB = the kernel + one scan. Determinism: thresholds round to
    * 6dp on both engines before the band comparisons. */
  def curriculumOrder(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
    val qs = (1 to 9).map(i => (s"d$i", i / 10.0))
    val th = graft.analytics.Quantiles.groupedQuantiles(
      d.select(lit("all").as("g"), col("n_chars").cast("double").as("v")),
      "g", "v", qs)
    val band = (1 to 9).map(i =>
      when(col("n_chars").cast("double") > col(s"d$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    d.crossJoin(broadcast(th.drop("g", "n")))
      .select(col("doc_id"), col("n_chars"),
        band.as("band"),
        md5(concat_ws(":", lit(CurriculumSalt), col("doc_id").cast("string")))
          .as("shuffle_key"))
      .orderBy("band", "shuffle_key", "doc_id")
  }

  val curriculumOrderSql: String =
    s"""WITH th AS (
       |  SELECT ${(1 to 9).map(i =>
             s"round(quantile_cont(CAST(n_chars AS DOUBLE), 0.$i), 6) AS d$i")
             .mkString(",\n       |         ")}
       |  FROM documents
       |)
       |SELECT doc_id, n_chars,
       |       CAST(${(1 to 9).map(i =>
             s"(CASE WHEN CAST(n_chars AS DOUBLE) > d$i THEN 1 ELSE 0 END)")
             .mkString(" +\n       |            ")} AS BIGINT) AS band,
       |       md5('$CurriculumSalt:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
       |FROM documents CROSS JOIN th
       |ORDER BY band, shuffle_key, doc_id""".stripMargin

  /** Sampling temperature for [[temperatureMix]] — the α in pᵢ ∝ nᵢ^α.
    * 0.3 is the published multilingual-pretraining setting (mT5/XLM-R
    * family); α = 1 reproduces natural proportions, α → 0 the uniform
    * mix. A run config literal, like [[MixBudget]]. */
  private val MixAlpha = 0.3

  /** Temperature-scaled language mix — the OTHER standard multilingual
    * sampling schedule (complement of [[epochMixPlan]]'s fixed per-lang
    * weights): sampling probability pᵢ ∝ tokensᵢ^α with temperature
    * α = 0.3, so low-resource languages are upsampled smoothly in
    * proportion to how small they are rather than by a hand-picked
    * constant. Output per language: natural share `p_raw`, tempered
    * share `p_temp`, and the implied upsampling factor `boost`
    * (p_temp / p_raw — > 1 means the language is repeated).
    *
    * Scale shape: identical to [[epochMixPlan]] — one corpus scan pruned
    * to (lang, text) collapsing map-side into per-language token
    * counters, a 1-row total broadcast back, then pure arithmetic. The
    * schedule for a 100 TB corpus costs one scan regardless of α.
    *
    * Determinism: `pow` on IEEE doubles agrees to well under 1 ulp
    * across engines; all emitted ratios round to 6/4 dp, the same
    * guard the rest of the mix family uses. */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("lang"),
      TextAnalysis.wsTokenCount(col("text")).cast("long").as("tk"))
    val perLang = d.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("tk")).as("tokens"))
    val tot = perLang.agg(
      sum(col("tokens")).cast("double").as("tot"),
      sum(pow(col("tokens").cast("double"), MixAlpha)).as("pot"))
    perLang.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"), col("tokens"),
        round(col("tokens") / col("tot"), 6).as("p_raw"),
        round(pow(col("tokens").cast("double"), MixAlpha) / col("pot"), 6)
          .as("p_temp"),
        round((pow(col("tokens").cast("double"), MixAlpha) / col("pot")) /
          (col("tokens") / col("tot")), 4).as("boost"))
      .orderBy("lang")
  }

  val temperatureMixSql: String =
    s"""WITH d AS (
       |  SELECT lang, CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS tk
       |  FROM documents
       |), pl AS (
       |  SELECT lang, count(*) AS n_docs, CAST(sum(tk) AS BIGINT) AS tokens
       |  FROM d GROUP BY lang
       |), t AS (
       |  SELECT CAST(sum(tokens) AS DOUBLE) AS tot,
       |         sum(pow(CAST(tokens AS DOUBLE), $MixAlpha)) AS pot
       |  FROM pl
       |)
       |SELECT lang, n_docs, tokens,
       |       round(tokens / tot, 6) AS p_raw,
       |       round(pow(CAST(tokens AS DOUBLE), $MixAlpha) / pot, 6) AS p_temp,
       |       round((pow(CAST(tokens AS DOUBLE), $MixAlpha) / pot) / (tokens / tot), 4) AS boost
       |FROM pl CROSS JOIN t ORDER BY lang""".stripMargin
}
