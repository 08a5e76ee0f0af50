package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.NativeColumn
import org.apache.spark.sql.types.BinaryType

import graft.Tables
import graft.RunScope.ScratchCacheOps
import graft.Tables.SizedSpreadOps

/** Benchmark decontamination — the audit every pretraining pipeline runs
  * before a training corpus ships (beyond-reference surface; builder
  * brief): find training documents that share verbatim n-grams with the
  * held-out evaluation split, because an eval answer that leaks into the
  * training set invalidates the benchmark score.
  *
  * Composition, not new kernels: the eval set is [[Sampling.hashSplitFrom]]'s
  * `test` split (a leakage check must use the SAME split function the
  * training job uses, or it audits the wrong corpus), and the n-gram
  * definition is [[Dedup.shinglesOf]]'s distinct word-trigrams (same
  * tokenization as the dedup family, so "shares an n-gram" means the same
  * thing in both audits).
  *
  * Scale design (the 100 TB story):
  *  - The benchmark n-gram set is SMALL by construction — eval corpora
  *    are thousands of documents, not corpus-scale — so the distinct
  *    benchmark hash set sits well under the broadcast threshold and the
  *    semi-join plans as a broadcast hash semi-join: the train side
  *    streams through map tasks with NO shuffle of the exploded n-grams.
  *    If a benchmark ever outgrows the threshold, the identical plan
  *    degrades to a shuffled semi-join partitioned on the n-gram hash —
  *    still no pair expansion.
  *  - Unlike the inverted-index Jaccard join, a hot (boilerplate) n-gram
  *    cannot blow up here: a semi-join emits each train posting AT MOST
  *    once, so fan-out is linear in the train side at any skew. No df cap
  *    is needed on this path.
  *  - Join keys are `xxhash64(shingle)` — fixed-width longs, no shingle
  *    string leaves the scan stage (same 64-bit collision assumption as
  *    the dedup family, documented at [[Dedup.ngramJaccardPairsFrom]]).
  *  - Output is only the contaminated documents with their overlap
  *    counts; the caller's drop/quarantine step is an anti-join against
  *    this (small) set, mirroring the dedup-cluster contract.
  */
object Decontaminate {

  /** Train/val documents sharing ≥ 1 distinct word-trigram with the
    * `test` split: (doc_id, split, n_shingles, n_hit, overlap) where
    * `n_hit` counts the document's distinct shingles that also occur
    * anywhere in the test split and `overlap` = n_hit / n_shingles. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val sh = Sampling.hashSplitFrom(
      Dedup.shinglesOf(Tables.spread(Tables.documents(spark, dir))),
      col("doc_id"))
    // shingles are distinct per document (array_distinct upstream), so a
    // post-semi-join count(*) per doc IS the distinct-hit count
    val ex = sh.select(col("doc_id"), col("split"),
      size(col("shingles")).cast("long").as("n_shingles"),
      explode(expr("transform(shingles, s -> xxhash64(s))")).as("s"))
    val bench = ex.filter(col("split") === "test").select("s").distinct()
    ex.filter(col("split") =!= "test")
      .join(bench, Seq("s"), "left_semi")
      .groupBy("doc_id", "split", "n_shingles")
      .agg(count(lit(1)).as("n_hit"))
      .withColumn("overlap",
        round(col("n_hit").cast("double") / col("n_shingles"), 6))
      .orderBy("doc_id")
  }

  /** Oracle: identical split + shingle CTEs over raw shingle strings
    * (the engine joins on xxhash64 — shared collision assumption). */
  val decontaminateSql: String =
    s"""WITH ${Dedup.shinglesCteSql},
       |sp AS (
       |  SELECT doc_id, shingles, ${Sampling.splitBucketSql} AS bucket FROM sh
       |), spl AS (
       |  SELECT doc_id, shingles, ${Sampling.splitCaseSql} AS split FROM sp
       |), ex AS (
       |  SELECT doc_id, split, CAST(len(shingles) AS BIGINT) AS n_shingles,
       |         unnest(shingles) AS s
       |  FROM spl
       |), bench AS (
       |  SELECT DISTINCT s FROM ex WHERE split = 'test'
       |)
       |SELECT doc_id, split, n_shingles, count(*) AS n_hit,
       |       round(CAST(count(*) AS DOUBLE) / n_shingles, 6) AS overlap
       |FROM ex
       |WHERE split <> 'test' AND s IN (SELECT s FROM bench)
       |GROUP BY doc_id, split, n_shingles
       |ORDER BY doc_id""".stripMargin

  /** Bits per benchmark n-gram for the Bloom prefilter — 32 bits/key
    * puts the per-posting false-positive rate around 1e-4, so the
    * exact-confirm join downstream sees ~the true hits plus noise. */
  private val BloomBitsPerKey = 32L

  /** BLOOM-PREFILTERED exact decontamination — the same output as
    * [[decontaminate]] (bit-identical; it shares the oracle), produced
    * through the two-stage shape a 100 TB corpus needs when the
    * benchmark n-gram set outgrows a comfortable broadcast:
    *
    *  1. the bench hash set is folded into a Bloom filter at
    *     [[BloomBitsPerKey]] bits/key — 8-16× smaller than the
    *     equivalent broadcast hash set (4 bytes/key vs 8-byte keys plus
    *     hashmap overhead) — and baked into a per-query constant, so
    *     the corpus-scale posting stream is gated MAP-SIDE with no
    *     shuffle and no per-task set build;
    *  2. only surviving postings (true hits + the ~1e-4 fp tail) reach
    *     the exact semi-join, which now joins a candidate stream many
    *     orders smaller — at cluster scale that join can afford to
    *     SHUFFLE the bench side instead of broadcasting it, which is
    *     the regime where this entry beats [[decontaminate]].
    *
    * False positives cannot reach the output (the exact join removes
    * them) and false negatives cannot exist (Bloom guarantee), so the
    * result is exactly the single-stage answer regardless of the
    * filter's behavior — the prefilter is pure plan shape.
    *
    * Uses Spark's own runtime-filter expressions
    * (`BloomFilterAggregate` / `BloomFilterMightContain` — the pair
    * behind AQE's injected runtime filters), built as Columns: the
    * gate captures the built filter as a LITERAL, which is
    * what `might_contain` requires of its filter side. The collected
    * filter is bench-sized (a model-class artifact: the benchmark is
    * thousands of documents, its filter a few hundred KB — the same
    * boundedness argument as the broadcast it replaces). */
  def decontaminateBloom(spark: SparkSession, dir: String): DataFrame = {
    val sh = Sampling.hashSplitFrom(
      Dedup.shinglesOf(Tables.spread(Tables.documents(spark, dir))),
      col("doc_id"))
    val ex = sh.select(col("doc_id"), col("split"),
        size(col("shingles")).cast("long").as("n_shingles"),
        explode(expr("transform(shingles, s -> xxhash64(s))")).as("s"))
      // size-derived cache layout (r21, Tables.sizedSpread; measured
      // -32% on this entry's min in the paired A/B, OPTIMIZATION_r21.md:
      // the filter-build + exact-confirm jobs re-read this cache, and a
      // posting stream of tens of MB does not justify 32 partitions)
      .sizedSpread()
      .scratchCache() // bench build + the gated train stream
    val bench = ex.filter(col("split") === "test").select("s").distinct()
      .scratchCache() // filter build + exact confirm
    val gate = bloomGate(bench)
    ex.filter(col("split") =!= "test")
      .filter(gate(col("s"))) // map-side prune, no shuffle
      .join(bench, Seq("s"), "left_semi") // exact confirm kills the fp tail
      .groupBy("doc_id", "split", "n_shingles")
      .agg(count(lit(1)).as("n_hit"))
      .withColumn("overlap",
        round(col("n_hit").cast("double") / col("n_shingles"), 6))
      .orderBy("doc_id")
  }

  /** Build a Bloom filter over `bench.s` and return the gate-column
    * factory `s => might_contain(<filter literal>, s)`. Both halves are
    * Spark's own runtime-filter pair (`BloomFilterAggregate` folds the
    * filter, `BloomFilterMightContain` is the gate; neither is
    * SQL-registered), built directly as Columns, so the session's
    * function registry is never written and concurrent gates on one
    * session cannot interfere. */
  private[llm] def bloomGate(bench: DataFrame): Column => Column = {
    val nb = math.max(1L, bench.count())
    val filterBytes = bench.agg(NativeColumn(new BloomFilterAggregate(
        NativeColumn.expr(col("s")), Literal(nb), Literal(nb * BloomBitsPerKey))
      .toAggregateExpression()))
      .head().getAs[Array[Byte]](0)
    c => NativeColumn(BloomFilterMightContain(
      Literal(filterBytes, BinaryType), NativeColumn.expr(c)))
  }

  /** Oracle: the prefilter is output-invisible by construction, so the
    * single-stage exact SQL is the oracle verbatim. */
  val decontaminateBloomSql: String = decontaminateSql

  /** Near-duplicate contamination threshold: a train document whose
    * EXACT shingle Jaccard against some test document reaches 0.8 is
    * flagged (the same confirm threshold as [[Dedup.minhashDedup]]). */
  private val FuzzyMin = 0.8

  /** Fuzzy decontamination — the near-duplicate complement of the exact
    * n-gram audit above: a benchmark answer that was lightly paraphrased
    * or re-wrapped before landing in the crawl shares few verbatim
    * trigrams but is still a near-duplicate, so pipelines additionally
    * screen train docs whose whole-document similarity against any test
    * doc is high. Candidates come from MinHash LSH band collisions
    * between the train and test sides (the SAME [[Dedup.minhashBands]]
    * signature/banding the dedup family uses, so "near-dup" means the
    * same thing corpus-wide); candidates are confirmed with EXACT
    * Jaccard ≥ 0.8, so banding only prunes and the output is exact.
    *
    * Scale shape: bands are computed in one hash aggregate per side from
    * ONE shingle pass (the split column rides along); the candidate join
    * keys on (band_id, band_key) — fixed-width longs — and the test side
    * is benchmark-sized, so it broadcasts: the corpus-scale train side
    * streams through map tasks with no shuffle. The exact-confirm joins
    * touch only candidate pairs (near-dup-sized). Recall: true
    * contaminants on this corpus sit at J ≥ 0.97, where the 16-band ×
    * 4-row miss probability is < 1e-15 (documented at [[Dedup]]). */
  def decontaminateFuzzy(spark: SparkSession, dir: String): DataFrame =
    decontaminateFuzzyFrom(
      Sampling.hashSplitFrom(
        Dedup.shinglesOf(Tables.spread(Tables.documents(spark, dir))),
        col("doc_id"))
        .select("doc_id", "split", "shingles")
        .scratchCache()) // reused: bands + 2 confirm joins

  /** The fuzzy kernel over a prepared — and, for reuse, already cached —
    * (doc_id, split, shingles) frame. Factored out (r21) so composites
    * that ALSO need a full-corpus shingle pass (corpus_prep's near-dup
    * stage) can share ONE pass instead of shingling the corpus twice;
    * the registered entry's plan is unchanged (it builds the same cached
    * frame and delegates here). */
  private[llm] def decontaminateFuzzyFrom(sh: DataFrame): DataFrame = {
    // split rides THROUGH the banding (minhashBands passes non-shingle
    // columns along), so the 16-rows-per-doc band stream never joins
    // back for a column the cached shingle frame already had
    val bands = Dedup.minhashBands(sh)
    val test = bands.filter(col("split") === "test")
      .select(col("doc_id").as("test_doc"), col("band_id"), col("band_key"))
    val cands = bands.filter(col("split") =!= "test")
      .join(broadcast(test), Seq("band_id", "band_key"))
      .select("doc_id", "split", "test_doc")
      .dropDuplicates("doc_id", "test_doc")
    val withSets = cands
      .join(sh.select(col("doc_id"), col("shingles").as("sa")), "doc_id")
      .join(sh.select(col("doc_id").as("test_doc"), col("shingles").as("sb")),
        "test_doc")
    val inter = size(array_intersect(col("sa"), col("sb")))
    withSets
      // no raw prefilter here, deliberately: the r18 A/B (SCALE.md)
      // measured the round-prefilter pattern a consistent LOSS on this
      // kernel — the ratio embeds array_intersect, which the merged
      // filter conjunction re-evaluates, and this kernel's candidates
      // are mostly true pairs (they pay the round either way)
      .withColumn("jaccard", round(
        inter.cast("double") / (size(col("sa")) + size(col("sb")) - inter), 6))
      .filter(col("jaccard") >= FuzzyMin)
      .select("doc_id", "split", "test_doc", "jaccard")
      .orderBy("doc_id", "test_doc")
  }

  /** Oracle: exact all-pairs train×test Jaccard at the same threshold
    * (valid because the engine confirms candidates exactly; see recall
    * note in the scaladoc). */
  val decontaminateFuzzySql: String =
    s"""WITH ${Dedup.shinglesCteSql},
       |sp AS (
       |  SELECT doc_id, shingles, ${Sampling.splitBucketSql} AS bucket FROM sh
       |), spl AS (
       |  SELECT doc_id, shingles, ${Sampling.splitCaseSql} AS split FROM sp
       |), tr AS (
       |  SELECT doc_id, split, unnest(shingles) AS s FROM spl WHERE split <> 'test'
       |), te AS (
       |  SELECT doc_id, unnest(shingles) AS s FROM spl WHERE split = 'test'
       |), inter AS (
       |  SELECT a.doc_id AS doc_id, a.split, b.doc_id AS test_doc, count(*) AS inter
       |  FROM tr a JOIN te b ON a.s = b.s
       |  GROUP BY 1, 2, 3
       |), sizes AS (SELECT doc_id, len(shingles) AS n FROM spl)
       |SELECT i.doc_id, i.split, i.test_doc,
       |       round(inter * 1.0 / (sa.n + sb.n - inter), 6) AS jaccard
       |FROM inter i
       |JOIN sizes sa ON sa.doc_id = i.doc_id
       |JOIN sizes sb ON sb.doc_id = i.test_doc
       |WHERE round(inter * 1.0 / (sa.n + sb.n - inter), 6) >= $FuzzyMin
       |ORDER BY i.doc_id, i.test_doc""".stripMargin

  /** The drop step that finishes the decontamination pipeline — the
    * [[Dedup.dedupApply]] of this family: the train/val corpus with every
    * fuzzy-flagged document removed (test rows are excluded by
    * definition — they are the benchmark, not training data). This is
    * the frame the training job reads after the audit; the audit queries
    * above say WHO is contaminated, this one applies the policy.
    *
    * Scale shape: the flagged list is benchmark-adjacent-sized (docs
    * near-duplicating a test doc), so the anti-join broadcasts and the
    * corpus streams map-only; the split column is the shuffle-free md5
    * projection. */
  def decontaminateApply(spark: SparkSession, dir: String): DataFrame = {
    val flagged = decontaminateFuzzy(spark, dir).select("doc_id").distinct()
    Sampling.hashSplitFrom(Tables.documents(spark, dir), col("doc_id"))
      .filter(col("split") =!= "test")
      .join(flagged, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars", "split")
      .orderBy("doc_id")
  }

  /** Oracle: the fuzzy audit as a nested subquery (own WITH chain),
    * anti-joined against the split corpus. */
  lazy val decontaminateApplySql: String =
    s"""WITH b AS (
       |  SELECT doc_id, lang, source, n_chars,
       |         ${Sampling.splitBucketSql} AS bucket
       |  FROM documents
       |), spl AS (
       |  SELECT doc_id, lang, source, n_chars,
       |         ${Sampling.splitCaseSql} AS split
       |  FROM b
       |)
       |SELECT doc_id, lang, source, n_chars, split
       |FROM spl
       |WHERE split <> 'test'
       |  AND doc_id NOT IN (SELECT doc_id FROM ($decontaminateFuzzySql))
       |ORDER BY doc_id""".stripMargin
}
