package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{CappedStructList, MinHashSig, OrderedPairs, SimHashWord}
import graft.RunScope.ScratchCacheOps

/** Near-duplicate detection over the `documents` corpus — the dedup family
  * a pretraining-data pipeline runs before training (beyond-reference
  * surface; builder brief): exact n-gram Jaccard via an inverted-index
  * join, MinHash + LSH banding with an exact confirm filter, and SimHash
  * with pigeonhole-exact bit-banding.
  *
  * Scale design (the 100 TB story):
  *  - NOTHING here is all-pairs. The exact-Jaccard path joins on shingles
  *    (only docs sharing a shingle are compared); MinHash compares only
  *    within an LSH band bucket; SimHash only within an identical bit-band.
  *    All three are shuffle-partitioned by their bucket key.
  *  - Per-document signatures (shingles → minhash/simhash) are computed
  *    with higher-order functions inside whole-stage codegen — no UDFs, no
  *    explode of per-shingle rows except at the final bucket join.
  *  - Skew guard: an ultra-common shingle fans out quadratically in the
  *    inverted-index join (Zipfian corpora always have a hot head), so the
  *    exact-Jaccard path drops shingles whose document frequency exceeds
  *    `maxDf` from the index before the self-join — bounded fan-out per
  *    shingle at any corpus size. The cap is mirrored in the oracle SQL;
  *    the default (64) sits far above this corpus's max shingle df (9), so
  *    the registered entry stays exact while the guard is real code on the
  *    hot path.
  *
  * Determinism/oracle notes: MinHash banding is probabilistic, but the
  * final output filters candidates by EXACT Jaccard ≥ 0.8, and the corpus
  * separation (true pairs ≥ 0.97, noise < 0.2) puts the recall loss below
  * 1e-15 ((1-0.974^4)^16), so the all-pairs DuckDB oracle matches. SimHash
  * banding is exact by construction: a pair within Hamming distance 7
  * differs in ≤ 7 of 8 disjoint bands, so at least one band collides.
  */
object Dedup {

  /** Distinct word-3-gram shingles per document, identical on both engines:
    * whitespace-split of trimmed text, trigrams joined with single spaces. */
  private[graft] def shinglesOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("ws", split(trim(col("text")), "\\s+"))
      .filter(size(col("ws")) >= 3)
      .withColumn("shingles", array_distinct(expr(
        "transform(sequence(1, size(ws) - 2), i -> concat_ws(' ', ws[i-1], ws[i], ws[i+1]))")))

  private def withShingles(spark: SparkSession, dir: String): DataFrame =
    shinglesOf(Tables.spread(Tables.documents(spark, dir)))

  /** The shingles CTE over an arbitrary corpus source (a table name or an
    * aliased subquery) — parametrized so sampled variants can share the
    * exact chain; [[shinglesCteSql]] keeps the full-corpus binding. */
  private[llm] def shinglesCte(src: String): String =
    s"""docs AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM $src
       |), sh AS (
       |  SELECT doc_id,
       |         list_distinct(list_transform(range(1, len(ws) - 1),
       |                       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingles
       |  FROM docs WHERE len(ws) >= 3
       |)""".stripMargin

  private[llm] val shinglesCteSql: String = shinglesCte("documents")

  /** Document-frequency cap for the inverted shingle index: shingles in
    * more than this many documents are dropped from the index (skew
    * guard). Far above this corpus's max shingle df (9), so the default
    * entry is exact; set lower at real scale to bound the hot head. */
  val DefaultMaxShingleDf = 64

  /** Exact n-gram Jaccard near-dup pairs via inverted-index join: explode
    * shingles, join docs sharing a shingle (the only candidate generator —
    * never all-pairs), count intersections, compute J = |∩|/|∪| ≥ 0.5.
    * The join key is the 64-bit xxhash of the shingle, not the string —
    * a fixed-width shuffle key at any shingle length. */
  def ngramJaccardPairs(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardPairsFrom(withShingles(spark, dir), DefaultMaxShingleDf)
      .orderBy("doc_a", "doc_b")

  /** Core kernel over a prepared (doc_id, shingles) frame. Shingles with
    * df > maxDf are dropped from the index as their posting lists build
    * (the [[graft.functions.CappedStructList]] aggregate collapses a
    * group to NULL the moment it exceeds the cap), so every list is
    * bounded by maxDf and one hot shingle can fan out to at most
    * C(maxDf, 2) candidate pairs instead of corpus².
    * Jaccard denominators still use the FULL shingle sets; only
    * intersection counting sees the capped index, so pairs whose overlap
    * is entirely hot shingles are missed — the documented recall trade of
    * df-capping (a pair that near-duplicates in hot shingles alone is
    * boilerplate, not duplication).
    *
    * Oracle note (shared hash-collision assumption): BOTH the df cap and
    * the intersection grouping key are `xxhash64(shingle)` on the Spark side
    * but the raw shingle string in the DuckDB oracle — a 64-bit collision
    * would merge two shingles' postings (and, since the cap landed, their
    * df counts) on the engine side only. The two divergence paths ride the
    * same assumption and fail together; at 64-bit width the birthday bound
    * keeps the collision probability negligible below ~10⁹ distinct
    * shingles per corpus.
    *
    * The pairs come out UNORDERED: every consumer but the
    * [[ngramJaccardPairs]] entry joins them or resolves components over
    * them, and a presentation sort there is not free — Catalyst drops it
    * under a join, but under [[connectedComponents]]' `localCheckpoint`
    * it survives as a range-sample job plus a range shuffle. */
  private[llm] def ngramJaccardPairsFrom(sh: DataFrame, maxDf: Int): DataFrame =
    shingleIntersections(sh, maxDf)
      // raw prefilter before the BigDecimal-backed round — see
      // Similarity.cosineAtLeast; identical survivors
      .withColumn("j",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("j") >= 0.5 - 1e-6)
      .withColumn("jaccard", round(col("j"), 6))
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b", "jaccard")

  /** The bounded inverted index both set-overlap kernels ([[ngramJaccardPairsFrom]],
    * [[containmentPairsFrom]]) count over: (doc_a, doc_b, na, nb, inter)
    * for every doc pair (doc_a < doc_b) sharing an indexed shingle, with
    * the FULL shingle-set sizes and the shared count in the df-capped
    * index. */
  private def shingleIntersections(sh: DataFrame, maxDf: Int): DataFrame = {
    // Shingles are hashed INSIDE the array and |shingles| rides along
    // through the explode: the shuffled stream is (doc_id, n, hash) —
    // fixed-width longs, no string leaves the scan stage, and no later
    // join revisits the documents to learn set sizes.
    val ex = sh.select(col("doc_id"), size(col("shingles")).as("n"),
        explode(expr("transform(shingles, s -> xxhash64(s))")).as("s"))
    // Bounded posting lists in ONE aggregation (r22, guide §2.4): the
    // native `capped_list` collects a shingle's postings only while the
    // group stays ≤ maxDf and collapses to NULL (one flag, contents
    // discarded) the moment it goes hot — the same memory bound and the
    // same surviving groups as the r21 two-pass shape (df-count
    // aggregate + broadcast anti-join + collect_list), which paid two
    // full aggregations over a cached copy of this exploded stream.
    // `ex` is now consumed exactly once, so the cache is gone too.
    // In-list pair expansion still fans out at most C(maxDf, 2) per
    // shingle.
    val postings = ex
      .groupBy("s")
      .agg(CappedStructList.of(struct(col("doc_id"), col("n")), maxDf).as("ds0"))
      .filter(col("ds0").isNotNull && size(col("ds0")) >= 2)
      .select(sort_array(col("ds0")).as("ds"))
    // ordered in-list pairs — doc_a < doc_b by the sort on unique doc_id;
    // the native ordered_pairs kernel replaces the interpreted
    // flatten/transform/slice HOF chain (r22 §12)
    val occ = postings.select(explode(OrderedPairs.of(col("ds"))).as("p"))
    occ
      .groupBy(col("p.a.doc_id").as("doc_a"), col("p.b.doc_id").as("doc_b"),
        col("p.a.n").as("na"), col("p.b.n").as("nb"))
      .agg(count(lit(1)).as("inter"))
  }

  /** [[shingleIntersections]]' oracle over raw shingle strings, after
    * `sh`: `ex` drops the shingles in more than [[DefaultMaxShingleDf]]
    * documents, `inter(doc_a, doc_b, inter)` counts each pair's shared
    * shingles, `sizes(doc_id, n)` holds the full set sizes. */
  private val shingleInterCteSql: String =
    s"""ex0 AS (
       |  SELECT doc_id, unnest(shingles) AS s FROM sh
       |), hot AS (
       |  SELECT s FROM ex0 GROUP BY s HAVING count(*) > $DefaultMaxShingleDf
       |), ex AS (
       |  SELECT * FROM ex0 WHERE s NOT IN (SELECT s FROM hot)
       |), inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |), sizes AS (SELECT doc_id, len(shingles) AS n FROM sh
       |)""".stripMargin

  /** The inverted-index Jaccard pipeline as a reusable CTE chain ending in
    * `pairs(doc_a, doc_b, jaccard)` — shared by the pairs entry and the
    * cluster-resolution oracle so both see the identical edge set. */
  private[llm] val jaccardPairsCteSql: String =
    s"""$shingleInterCteSql, pairs AS (
       |  SELECT doc_a, doc_b,
       |         round(inter * 1.0 / (sa.n + sb.n - inter), 6) AS jaccard
       |  FROM inter
       |  JOIN sizes sa ON sa.doc_id = doc_a
       |  JOIN sizes sb ON sb.doc_id = doc_b
       |  WHERE round(inter * 1.0 / (sa.n + sb.n - inter), 6) >= 0.5
       |)""".stripMargin

  /** The recursive-closure oracle chain over a pair CTE: `edges` (both
    * directions of `pairs`' (a, b) columns) → `reach` (every node's
    * reachable set) → `comp(id, label)`, the min reachable id per node.
    * Tractable at oracle scale only; the Spark side never materializes
    * reachability, just labels ([[connectedComponents]]). Needs
    * `WITH RECURSIVE`. */
  private[llm] def closureCteSql(pairs: String, a: String, b: String,
                                 id: String, label: String): String =
    s"""edges AS (
       |  SELECT $a AS u, $b AS v FROM $pairs
       |  UNION ALL
       |  SELECT $b, $a FROM $pairs
       |), reach AS (
       |  SELECT u, u AS v FROM (SELECT DISTINCT u FROM edges) nodes
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
       |), comp AS (
       |  SELECT u AS $id, min(v) AS $label FROM reach GROUP BY u
       |)""".stripMargin

  /** The shingle → Jaccard pairs → closure chain ending in
    * `comp(doc_id, cluster_id)`: the cluster labels every text-dedup
    * oracle resolves against. */
  private[llm] val jaccardClosureCteSql: String =
    s"$shinglesCteSql, $jaccardPairsCteSql, " +
      closureCteSql("pairs", "doc_a", "doc_b", "doc_id", "cluster_id")

  /** Full pairs SQL over an arbitrary corpus source (see [[shinglesCte]]). */
  private[llm] def ngramJaccardPairsSqlFrom(src: String): String =
    s"""WITH ${shinglesCte(src)}, $jaccardPairsCteSql
       |SELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b""".stripMargin

  val ngramJaccardPairsSql: String = ngramJaccardPairsSqlFrom("documents")

  /** Containment threshold for [[containmentDedup]]: a doc ≥ 90% of whose
    * shingles appear in another doc is treated as contained. */
  private val ContainmentMin = 0.9

  /** Asymmetric containment near-dups: directional pairs (contained,
    * container) where C(a→b) = |Sa ∩ Sb| / |Sa| ≥ 0.9 — the estimator
    * Jaccard misses by construction: a short document quoted whole inside
    * a much longer one has tiny Jaccard (the union is dominated by the
    * long doc) but containment ≈ 1. Pretraining pipelines run this pass
    * to catch wrapper pages, quote farms, and documents that are strict
    * extensions of others; the kept copy is usually the container.
    *
    * Scale shape: the SAME bounded-posting-list inverted index as
    * [[ngramJaccardPairsFrom]] — candidates come only from shared
    * shingles (never all-pairs), hot shingles above [[DefaultMaxShingleDf]]
    * are dropped from the index on both engines, every posting list is
    * df-bounded before pair expansion, and the shuffled stream is
    * fixed-width (doc_id, n, xxhash64) longs. The one unordered
    * intersection count then fans out into AT MOST two directional rows
    * in-row (an `explode` of a 2-element literal array — no second join,
    * no second aggregate), so the directional output costs nothing over
    * the symmetric one. Same documented df-cap recall trade and 64-bit
    * collision assumption as the Jaccard kernel. */
  def containmentDedup(spark: SparkSession, dir: String): DataFrame =
    containmentPairsFrom(withShingles(spark, dir), DefaultMaxShingleDf,
      ContainmentMin)

  /** Core containment kernel over a prepared (doc_id, shingles) frame —
    * see [[containmentDedup]] for semantics and the scale story. */
  private[llm] def containmentPairsFrom(sh: DataFrame, maxDf: Int,
      minC: Double): DataFrame =
    shingleIntersections(sh, maxDf)
      // both directions of one unordered pair, expanded in-row; the raw
      // ratio rides the struct and the BigDecimal-backed round is paid
      // only by prefilter survivors (see Similarity.cosineAtLeast)
      .select(explode(array(
        struct(col("doc_a").as("contained"), col("doc_b").as("container"),
          (col("inter").cast("double") / col("na")).as("c")),
        struct(col("doc_b").as("contained"), col("doc_a").as("container"),
          (col("inter").cast("double") / col("nb")).as("c"))))
        .as("r"))
      .select(col("r.contained").as("contained"),
        col("r.container").as("container"), col("r.c").as("c"))
      .filter(col("c") >= minC - 1e-6)
      .withColumn("containment", round(col("c"), 6))
      .filter(col("containment") >= minC)
      .select("contained", "container", "containment")
      .orderBy("contained", "container")

  /** Oracle: same inverted-index intersection over raw shingle strings
    * (same hot-shingle cap), both directions via UNION ALL. */
  val containmentDedupSql: String =
    s"""WITH $shinglesCteSql, $shingleInterCteSql, dirs AS (
       |  SELECT doc_a AS contained, doc_b AS container,
       |         round(inter * 1.0 / sa.n, 6) AS containment
       |  FROM inter
       |  JOIN sizes sa ON sa.doc_id = doc_a
       |  UNION ALL
       |  SELECT doc_b AS contained, doc_a AS container,
       |         round(inter * 1.0 / sb.n, 6) AS containment
       |  FROM inter
       |  JOIN sizes sb ON sb.doc_id = doc_b
       |)
       |SELECT contained, container, containment FROM dirs
       |WHERE containment >= $ContainmentMin
       |ORDER BY contained, container""".stripMargin

  /** MinHash signature length / LSH banding: 64 hashes in 16 bands of 4.
    * Candidate recall at J ≥ 0.8 is 1 - (1 - 0.8^4)^16 > 0.9998; on this
    * corpus (true pairs ≥ 0.97) the miss probability is < 1e-15. */
  private val NumHashes = 64
  private val BandRows = 4
  private val NumBands = NumHashes / BandRows

  /** LSH band keys for a prepared (doc_id, shingles) frame: one row per
    * (doc_id, band_id, band_key). Signatures come from the native per-row
    * [[graft.functions.MinHashSig]] kernel — every minimum only reads its
    * own row's shingles, so the signature stage is a map with NO shuffle
    * (the exploded 64-buffer min() aggregate it replaced survives as the
    * cross-check twin [[minhashSigExploded]]). Each shingle string is
    * hashed ONCE; the 64 hash-family members rehash only the fixed-width
    * 64-bit value (not the string), which also avoids ANSI-mode overflow
    * that a raw multiply-mix would hit. Band keys fold the signature
    * lanes through Spark's own xxhash64 over element_at, so buckets are
    * bit-identical to the former column formulation. Shared by
    * [[minhashDedup]] and [[Decontaminate.decontaminateFuzzy]] so "same
    * bucket" means the same thing in both audits. */
  private[graft] def minhashBands(sh: DataFrame): DataFrame = {
    // non-shingle input columns pass through: Decontaminate's fuzzy
    // audit carries its split column here instead of joining it back
    // onto the 16-rows-per-doc band stream — at corpus scale that join
    // is a 16n-row exchange for a column the scan already had (r18
    // pricing study, SCALE.md).
    // CONTRACT (r19, ADVICE): callers must pre-prune to doc_id + the
    // columns they actually want carried — every carry column rides the
    // 16-rows-per-doc band exchange, and relying on Catalyst pruning
    // breaks the moment a cache/checkpoint lands above the bands.
    val carry = sh.columns.filterNot(_ == "shingles").map(col).toSeq
    val sig = sh.select(carry :+
      MinHashSig.of(col("shingles"), NumHashes).as("sig"): _*)
    sig.withColumn("band", explode(array(
      (0 until NumBands).map(b =>
        struct(lit(b).as("band_id"),
          xxhash64((lit(b) +: (0 until BandRows).map(r =>
            element_at(col("sig"), b * BandRows + r + 1))): _*).as("band_key"))): _*)))
      .select(carry ++ Seq(col("band.band_id"), col("band.band_key")): _*)
  }

  /** The exploded groupBy formulation of the same signature — kept as the
    * independent cross-check of the native kernel (DedupSpec pins
    * lane-equality corpus-wide). Production code uses [[minhashBands]]. */
  private[llm] def minhashSigExploded(sh: DataFrame): DataFrame = {
    val ex = sh.select(col("doc_id"), explode(col("shingles")).as("s"))
      .withColumn("h", xxhash64(col("s")))
    val sigCols = (0 until NumHashes).map(i =>
      min(xxhash64(lit(i), col("h"))).as(s"h$i"))
    ex.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
      .select(col("doc_id"),
        array((0 until NumHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** MinHash + LSH near-dup pairs: per-doc signature sig[i] =
    * min over shingles of xxhash64(i, shingle); band key = xxhash64 of the
    * band's 4 signature slots; docs sharing any (band, key) bucket become
    * candidates; candidates are confirmed with EXACT Jaccard ≥ 0.8 on the
    * shingle arrays. Output is therefore exact (banding only prunes). */
  def minhashDedup(spark: SparkSession, dir: String): DataFrame = {
    val sh = withShingles(spark, dir).scratchCache() // reused: signatures + 2 confirm joins
    // explicit prune (minhashBands carry contract): only doc_id rides the
    // 16-rows-per-doc band exchange — don't lean on Catalyst pruning to
    // keep text/lang/source out of the self-join shuffle
    val bands = minhashBands(sh.select("doc_id", "shingles"))
    val cands = bands.as("a")
      .join(bands.as("b"),
        col("a.band_id") === col("b.band_id") && col("a.band_key") === col("b.band_key")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    // exact-Jaccard confirm on the candidate pairs only (candidate count is
    // near-dup-sized, so both set joins broadcast)
    val withSets = cands
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sa")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sb")), "doc_b")
    val inter = size(array_intersect(col("sa"), col("sb")))
    withSets
      // no raw prefilter, deliberately — same A/B verdict as the fuzzy
      // kernel (Decontaminate.decontaminateFuzzy): array_intersect in
      // the ratio makes the merged conjunction re-evaluate it, and the
      // post-dedup candidates here are near-dup-sized anyway
      .withColumn("jaccard", round(
        inter.cast("double") / (size(col("sa")) + size(col("sb")) - inter), 6))
      .filter(col("jaccard") >= 0.8)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** Oracle: the LSH output equals the exact all-candidate Jaccard pairs at
    * the 0.8 threshold (see recall analysis in the scaladoc). */
  val minhashDedupSql: String =
    s"""WITH $shinglesCteSql, ex AS (
       |  SELECT doc_id, unnest(shingles) AS s FROM sh
       |), inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |), sizes AS (SELECT doc_id, len(shingles) AS n FROM sh)
       |SELECT doc_a, doc_b,
       |       round(inter * 1.0 / (sa.n + sb.n - inter), 6) AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = doc_a
       |JOIN sizes sb ON sb.doc_id = doc_b
       |WHERE round(inter * 1.0 / (sa.n + sb.n - inter), 6) >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Dedup-estimator evaluation — the audit a pipeline runs before
    * trusting a cheap sketch at scale: score the SimHash candidate pairs
    * (Hamming ≤ 7) against the exact-Jaccard ground truth (J ≥ 0.8) and
    * report the confusion counts plus precision/recall. One row out; the
    * number that decides whether the 100 TB corpus can skip the exact
    * confirm join, or how much post-filter work the sketch leaves behind.
    *
    * Scale shape: both inputs are the already-bucketed kernels above
    * (never all-pairs); the comparison itself is a full-outer join on
    * (doc_a, doc_b) between two near-dup-sized pair lists, collapsing
    * into counters map-side. Precision/recall guard their zero
    * denominators explicitly (ANSI mode throws on x/0). */
  def dedupEval(spark: SparkSession, dir: String): DataFrame =
    // project BEFORE caching (r22): both estimator kernels read only
    // (doc_id, shingles); the unprojected cache also serialized text, ws
    // and the document dims into every cached batch
    dedupEvalFrom(withShingles(spark, dir)
      .select("doc_id", "shingles").scratchCache())

  /** The confusion-count kernel over a prepared (cached) shingle frame —
    * shared with [[dedupEvalSampled]], which feeds it a hash-sampled
    * corpus instead of the full one. */
  private[llm] def dedupEvalFrom(sh: DataFrame): DataFrame = {
    // one shingle pass feeds both estimators (each kernel re-reads it
    // for its confirm/vote stages, so the cache is read 3+ times)
    val truth = ngramJaccardPairsFrom(sh, DefaultMaxShingleDf)
      .filter(col("jaccard") >= 0.8)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("t"))
    val pred = simhashPairsFrom(sh, words = 1)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("p"))
    val joined = truth.join(pred, Seq("doc_a", "doc_b"), "full_outer")
    val counts = joined.agg(
      sum(coalesce(col("t"), lit(0L))).as("n_truth"),
      sum(coalesce(col("p"), lit(0L))).as("n_pred"),
      sum(when(col("t").isNotNull && col("p").isNotNull, 1L).otherwise(0L)).as("tp"),
      sum(when(col("t").isNull && col("p").isNotNull, 1L).otherwise(0L)).as("fp"),
      sum(when(col("t").isNotNull && col("p").isNull, 1L).otherwise(0L)).as("fn"))
    counts.select(col("n_truth"), col("n_pred"), col("tp"), col("fp"), col("fn"),
      round(when(col("n_pred") === 0, lit(null))
        .otherwise(col("tp").cast("double") / col("n_pred")), 6).as("precision"),
      round(when(col("n_truth") === 0, lit(null))
        .otherwise(col("tp").cast("double") / col("n_truth")), 6).as("recall"))
  }

  /** Oracle: the two public pair queries over `src` as nested
    * subqueries (each carries its own WITH chain), same confusion
    * arithmetic as [[dedupEvalFrom]]. */
  private def dedupEvalSqlFrom(src: String): String =
    s"""WITH truth AS (
       |  SELECT doc_a, doc_b FROM (${ngramJaccardPairsSqlFrom(src)}) WHERE jaccard >= 0.8
       |), pred AS (
       |  SELECT doc_a, doc_b FROM (${simhashPairsSql(src, words = 1)})
       |), j AS (
       |  SELECT coalesce(t.doc_a, p.doc_a) AS doc_a,
       |         coalesce(t.doc_b, p.doc_b) AS doc_b,
       |         (t.doc_a IS NOT NULL) AS in_t, (p.doc_a IS NOT NULL) AS in_p
       |  FROM truth t FULL OUTER JOIN pred p
       |    ON t.doc_a = p.doc_a AND t.doc_b = p.doc_b
       |), c AS (
       |  SELECT CAST(sum(CASE WHEN in_t THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
       |         CAST(sum(CASE WHEN in_p THEN 1 ELSE 0 END) AS BIGINT) AS n_pred,
       |         CAST(sum(CASE WHEN in_t AND in_p THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |         CAST(sum(CASE WHEN NOT in_t AND in_p THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |         CAST(sum(CASE WHEN in_t AND NOT in_p THEN 1 ELSE 0 END) AS BIGINT) AS fn
       |  FROM j
       |)
       |SELECT n_truth, n_pred, tp, fp, fn,
       |       round(CASE WHEN n_pred = 0 THEN NULL ELSE tp * 1.0 / n_pred END, 6) AS precision,
       |       round(CASE WHEN n_truth = 0 THEN NULL ELSE tp * 1.0 / n_truth END, 6) AS recall
       |FROM c""".stripMargin

  lazy val dedupEvalSql: String = dedupEvalSqlFrom("documents")

  /** Salt + modulus for the sampled-eval corpus slice: documents whose
    * salted md5 bucket is 0 (1/[[EvalSampleMod]] of the corpus),
    * engine-parity with the `hash_split` md5 discipline. */
  private val EvalSampleSalt = "evalsample"
  private val EvalSampleMod = 2

  /** Sampled dedup-estimator evaluation — the form of the [[dedupEval]]
    * audit that survives 100 TB. The full audit's cost is inherently
    * Ω(Σ_c k_c²) in the duplicate-cluster sizes k_c (the pair lists ARE
    * the output): the round-16 25× rehearsal measured the full eval at
    * 67-120 s (±40% run variance) when corpus replication inflated the
    * SimHash pred list to 1.53 M pairs (SCALE.md round-16 section) — output-proportional, but
    * the output itself grows quadratically with clique size. At corpus
    * scale nobody audits every pair; the standard move is a deterministic
    * document-level Bernoulli sample. A doc survives iff its salted-md5
    * bucket ≡ 0 (mod [[EvalSampleMod]]), so a PAIR survives iff both
    * endpoints do (rate 1/mod²) — truth and pred pair sets thin by the
    * SAME factor, making the precision/recall ratio estimators consistent
    * (variance, not bias, is the price; widen the sample to shrink it).
    * Shuffle-free sampling: the md5 predicate is a scan-stage filter, so
    * the sampled eval does 1/mod² of the pair work end-to-end. */
  def dedupEvalSampled(spark: SparkSession, dir: String): DataFrame = {
    val sampled = Tables.spread(Tables.documents(spark, dir))
      .filter(conv(substring(
        md5(concat_ws(":", lit(EvalSampleSalt), col("doc_id").cast("string"))),
        1, 8), 16, 10).cast("long") % EvalSampleMod === 0)
    dedupEvalFrom(shinglesOf(sampled)
      .select("doc_id", "shingles").scratchCache()) // projected: see dedupEval
  }

  /** Oracle: [[dedupEvalSqlFrom]] over the sampled corpus subquery
    * (same salted-md5 predicate, DuckDB spelling). */
  lazy val dedupEvalSampledSql: String = dedupEvalSqlFrom(
    "(SELECT * FROM documents WHERE (('0x' || substr(md5('" +
      s"$EvalSampleSalt:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT" +
      s" % $EvalSampleMod) = 0) sampled")

  /** SimHash bit width (60: 15 hex chars of md5 — fits a signed 64-bit
    * lane on both engines), Hamming threshold, and band count. 8 disjoint
    * bands make Hamming ≤ 7 recall EXACT by pigeonhole. */
  private val SimBits = 60
  private[graft] val HamMax = 7

  /** One band of a banded-Hamming index: (fingerprint word, bit offset,
    * width). A fingerprint is one or more 60-bit words; bands are
    * disjoint bit-slices across them. */
  private[graft] type Band = (Int, Int, Int)

  private[graft] val SimBands: Seq[Band] = // one word: 4×8-bit + 4×7-bit
    Seq((0, 0, 8), (0, 8, 8), (0, 16, 8), (0, 24, 8),
      (0, 32, 7), (0, 39, 7), (0, 46, 7), (0, 53, 7))

  /** SimHash near-dup pairs: 60-bit md5-derived simhash per document
    * (bit j set iff the +1/-1 vote over the doc's shingle hashes is
    * positive), banded into 8 disjoint bit-slices; docs sharing any band
    * value are candidates; pairs within Hamming distance ≤ 7 are emitted.
    * Banding is recall-exact here (pigeonhole), so the all-pairs oracle
    * matches bit-for-bit. */
  def simhashDedup(spark: SparkSession, dir: String): DataFrame =
    simhashPairsFrom(withShingles(spark, dir), words = 1)

  /** The fingerprint columns of a `words`-word SimHash: `simhash` for
    * one 60-bit word, `sim1`, `sim2` for the 120-bit fingerprint. */
  private def simhashColumns(words: Int): Seq[String] =
    if (words == 1) Seq("simhash") else (1 to words).map(w => s"sim$w")

  /** The fingerprint stage of the SimHash kernel: (doc_id, one 60-bit
    * column per word) from a prepared (doc_id, shingles) frame, via the
    * native per-row [[graft.functions.SimHashWord]] expression over words
    * 0, 1, … of each shingle's md5 — every vote only reads its own row's
    * shingles, so fingerprinting is a map stage with NO shuffle (the
    * vote-aggregate twin below exchanges one row per shingle to compute
    * the same bits). */
  private[graft] def simhashFingerprints(shingled: DataFrame, words: Int): DataFrame =
    shingled.select(col("doc_id") +: simhashColumns(words).zipWithIndex.map {
      case (c, w) => SimHashWord.of(col("shingles"), w).as(c)
    }: _*)

  /** The exploded groupBy formulation of the same fingerprint — the
    * shape the DuckDB oracle mirrors, kept as the independent cross-check
    * of the native kernel (DedupSpec pins bit-equality corpus-wide for
    * both md5 words). Production code uses [[simhashFingerprints]]. */
  private[graft] def simhashFingerprintsVoteAgg(shingled: DataFrame,
                                                word: Int = 0): DataFrame = {
    // Per-bit votes over the exploded shingle-hash stream. Bit j of the
    // simhash is set iff the +1/-1 vote is positive, i.e. 2·(count of
    // 1-bits) > shingle count. The 60 per-bit counters are packed into 9
    // lane-packed longs (9-bit lanes, 7 lanes per long) so the hash
    // aggregate has 10 buffers instead of 61 — 61 separate sum() buffers
    // push the generated update method past the JIT method limit and the
    // whole stage runs deoptimized (measured 11 s vs ~2 s at sf0.1).
    // 9-bit lanes carry cleanly up to 511 shingles/doc (corpus max ~100);
    // larger documents would need wider lanes or shingle sampling.
    val LaneBits = 9
    val LanesPerWord = 7
    val numWords = (SimBits + LanesPerWord - 1) / LanesPerWord // 9
    val ex = shingled
      .select(col("doc_id"), explode(col("shingles")).as("s"))
      .withColumn("h", expr(
        s"CAST(conv(substring(md5(s), ${word * 15 + 1}, 15), 16, 10) AS BIGINT)"))
    val packCols = count(lit(1)).as("n") +:
      (0 until numWords).map { g =>
        val lanes = (0 until LanesPerWord)
          .filter(k => g * LanesPerWord + k < SimBits)
          .map(k => shiftleft(
            shiftright(col("h"), g * LanesPerWord + k).bitwiseAND(lit(1L)),
            LaneBits * k))
        sum(lanes.reduce(_ + _)).as(s"p$g")
      }
    val votes = ex.groupBy("doc_id").agg(packCols.head, packCols.tail: _*)
    val simhash = (0 until SimBits).map { j =>
      val (g, k) = (j / LanesPerWord, j % LanesPerWord)
      val cnt = shiftright(col(s"p$g"), LaneBits * k)
        .bitwiseAND(lit((1L << LaneBits) - 1))
      when(cnt * 2 > col("n"), lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    votes.select(col("doc_id"), simhash.as("simhash"))
  }

  /** The SimHash kernel over a prepared (doc_id, shingles) frame, at one
    * 60-bit word ([[SimBands]]) or two ([[WideBands]]) — shared by both
    * entries, [[dedupEval]] (which feeds both estimators from ONE cached
    * shingle pass) and the corpus-prep near-dup stage. */
  private[graft] def simhashPairsFrom(shingled: DataFrame, words: Int): DataFrame =
    bandedHammingPairs(simhashFingerprints(shingled, words), simhashColumns(words),
      if (words == 1) SimBands else WideBands)

  /** The banded-Hamming pair kernel every fingerprint family rides: the
    * 60-bit word-shingle SimHash ([[SimBands]], 8 bands over one word),
    * the 120-bit wide SimHash ([[WideBands]], 4×15 bits over each of two
    * words) and the multimodal perceptual dHash in
    * [[Multimodal.mediaNearDedup]]. The fingerprint frame (doc_id,
    * `words`…) is banded into the disjoint `bands`, rows sharing any
    * (band, key) become candidates, and pairs within Hamming ≤
    * [[HamMax]] summed over all words are emitted — recall-exact by
    * pigeonhole (≤ 7 differing bits over 8 disjoint bands leave one band
    * equal), so an all-pairs oracle matches bit-for-bit. */
  private[graft] def bandedHammingPairs(fp: DataFrame, words: Seq[String],
                                        bands: Seq[Band]): DataFrame = {
    // one exploded (band_id, band_key) struct per band of the words
    val bandKeys = explode(array(bands.zipWithIndex.map {
      case ((word, off, width), idx) =>
        struct(lit(idx).as("band_id"), shiftright(col(words(word)), off)
          .bitwiseAND(lit((1L << width) - 1)).as("band_key"))
    }: _*))
    val banded = fp.scratchCache().withColumn("band", bandKeys)
      .select((col("doc_id") +: words.map(col)) ++
        Seq(col("band.band_id"), col("band.band_key")): _*)
    banded.as("a")
      .join(banded.as("b"),
        col("a.band_id") === col("b.band_id") && col("a.band_key") === col("b.band_key")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        words.map(w => bit_count(col(s"a.$w").bitwiseXOR(col(s"b.$w"))))
          .reduce(_ + _).cast("long").as("hamming"))
      // FILTER before the pair dedup: hamming is functionally determined
      // by (doc_a, doc_b), so the order is semantics-free — but the dedup
      // is a shuffle of every band-join candidate (~n²/2^w rows; ~10⁸ at
      // the 25× rehearsal) while the filter is map-side, so filtering
      // first shrinks that exchange to the surviving near-dup pairs.
      // Catalyst cannot push this itself: hamming is not a dedup key.
      .filter(col("hamming") <= HamMax)
      .dropDuplicates("doc_a", "doc_b")
      .orderBy("doc_a", "doc_b")
  }

  /** Wide-fingerprint width: two 60-bit md5 words = 120 bits, banded as
    * 8 disjoint 15-bit slices (4 per word — 8×15 = 120 exactly). */
  private[graft] val WideBands: Seq[Band] =
    for (word <- 0 until 2; k <- 0 until 4) yield (word, k * 15, 15)

  /** 120-bit SimHash near-dup pairs — the wide-fingerprint response to
    * the band-domain wall the round-16 25× rehearsal measured on the
    * 60-bit kernel (SCALE.md). Pigeonhole for Hamming ≤ 7 forces 8
    * disjoint bands whatever the width; at 60 bits that makes band keys
    * 7-8 bits (≤ 256 values), so band-bucket occupancy grows ~n/2^w and
    * the self-join candidate count ~n²·2^{-w} — measured 315 s at 125k
    * docs. Doubling the fingerprint to 120 bits (md5 has 128; two 60-bit
    * words keep every lane in a signed long on both engines) widens each
    * band to 15 bits (32,768 values), moving the wall out by
    * 2^{15-7.5} ≈ 181× for the SAME exact-recall guarantee: ≤ 7
    * differing bits over 8 disjoint bands leave at least one band
    * identical. The Hamming budget is now spent over 120 bits, so the
    * match predicate is proportionally stricter than the 60-bit entry's —
    * a deliberate contract of its own (near-dup thresholds tighten as
    * fingerprints widen), not a drop-in replacement; both entries are
    * oracle-exact over their own predicates.
    *
    * Both words come from the native per-row
    * [[graft.functions.SimHashWord]] kernel (words 0 and 1 of the same
    * md5), so the 120-bit fingerprint stage is shuffle-free too — the
    * lane-packed vote aggregate this replaced survives as the 60-bit
    * cross-check twin [[simhashFingerprintsVoteAgg]]. */
  def simhashDedupWide(spark: SparkSession, dir: String): DataFrame =
    simhashPairsFrom(withShingles(spark, dir), words = 2)

  /** Oracle: all-pairs 120-bit Hamming at the same threshold — banding
    * is recall-exact by pigeonhole, so the pair sets match exactly. */
  val simhashDedupWideSql: String = simhashPairsSql("documents", words = 2)

  /** Edit-distance budget for [[levenshteinDedup]] and the per-block
    * document-frequency cap mirroring [[DefaultMaxShingleDf]]. */
  private val MaxEditDist = 8
  private val MaxBlockDf = 64

  /** Edit-distance (Levenshtein) fuzzy dedup — the character-level member
    * of the dedup family, catching small in-place edits (typo fixes,
    * punctuation churn) that shingle-set measures dilute. Never all-pairs:
    * candidates are generated by TWO blocking keys per document — the
    * first 24 and last 24 chars of the normalized text — joined per key.
    * An edit burst anywhere in the document leaves at least one end
    * intact unless the budget is split across BOTH ends, so prefix∪suffix
    * blocking recalls every pair whose edits stay at one end or in the
    * middle (the residual misses — simultaneous head AND tail edits — are
    * the documented trade, and the oracle mirrors the same blocking so
    * the contract is exact over the candidate set).
    *
    * Scale notes: blocking keys are fixed-width (24 chars), so the
    * shuffle key is bounded at any document length; a boilerplate-hot
    * block (shared headers) is df-capped at $MaxBlockDf exactly like the
    * shingle index, bounding per-block fan-out to df² at any corpus size.
    * The confirm step uses Spark's banded `levenshtein(l, r, threshold)`
    * — O(len·budget) per pair, not O(len²), and early-exits above the
    * budget (the oracle's plain levenshtein + filter is value-identical
    * over the candidates). */
  def levenshteinDedup(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.documents(spark, dir)
      .select(col("doc_id"),
        lower(regexp_replace(col("text"), "\\s+", " ")).as("norm"))
    val blocks = n.select(col("doc_id"), col("norm"), explode(array(
      struct(lit(0).as("which"), expr("left(norm, 24)").as("key")),
      struct(lit(1).as("which"), expr("right(norm, 24)").as("key")))).as("b"))
      .select(col("doc_id"), col("norm"), col("b.which"), col("b.key"))
    val hot = blocks.groupBy("which", "key").agg(count(lit(1)).as("df"))
      .filter(col("df") > MaxBlockDf).select("which", "key")
    val kept = blocks.join(hot, Seq("which", "key"), "left_anti")
    val cands = kept.as("a")
      .join(kept.as("b"),
        col("a.which") === col("b.which") && col("a.key") === col("b.key")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.norm").as("na"), col("b.norm").as("nb"))
      .dropDuplicates("doc_a", "doc_b")
    cands
      .withColumn("edit_dist",
        levenshtein(col("na"), col("nb"), MaxEditDist).cast("long"))
      .filter(col("edit_dist") >= 0)
      .select("doc_a", "doc_b", "edit_dist")
      .orderBy("doc_a", "doc_b")
  }

  val levenshteinDedupSql: String =
    s"""WITH n AS (
       |  SELECT doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS norm
       |  FROM documents
       |), blocks AS (
       |  SELECT doc_id, norm, 0 AS which, left(norm, 24) AS key FROM n
       |  UNION ALL
       |  SELECT doc_id, norm, 1 AS which, right(norm, 24) AS key FROM n
       |), hot AS (
       |  SELECT which, key FROM blocks GROUP BY which, key HAVING count(*) > $MaxBlockDf
       |), kept AS (
       |  SELECT b.* FROM blocks b ANTI JOIN hot h USING (which, key)
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         a.norm AS na, b.norm AS nb
       |  FROM kept a JOIN kept b
       |    ON a.which = b.which AND a.key = b.key AND a.doc_id < b.doc_id
       |)
       |SELECT doc_a, doc_b, CAST(levenshtein(na, nb) AS BIGINT) AS edit_dist
       |FROM cand WHERE levenshtein(na, nb) <= $MaxEditDist
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Maximum label-propagation rounds before declaring non-convergence.
    * With path-halving each round at least halves the remaining pointer
    * depth, so 48 rounds cover any component diameter below 2^48. */
  private val MaxCcRounds = 48

  /** Connected components over an undirected edge list `(u, v)` — returns
    * `(node, component)` where `component` is the minimum node id in the
    * node's component. Only nodes that appear in at least one edge are
    * returned (isolated nodes have no dedup decision to make).
    *
    * Algorithm: iterative min-label propagation with path-halving, the
    * MapReduce-style connected-components family published in Kiveris et
    * al., "Connected Components in MapReduce and Beyond" (SoCC '14).
    * Each round runs
    *   (a) neighborhood-min: label(u) ← min(label(u), min over neighbors'
    *       labels) — one shuffle join edge⋈labels plus a hash aggregate;
    *   (b) pointer jump (path halving): label(u) ← label(label(u)) — one
    *       self-join of the label table on the label key.
    * Labels are node ids, monotonically non-increasing, and bounded below
    * by the component minimum, so the loop terminates; the pointer jump
    * makes deep chains collapse in O(log diameter) rounds instead of
    * O(diameter). Near-dup clusters are shallow (most are pairs/triples),
    * so the expected round count is 2-3 at any corpus size.
    *
    * Scale notes: per-round cost is two shuffle joins keyed on node id —
    * no all-pairs step, no driver-side graph. The per-round convergence
    * check rides the checkpoint materialization itself (r22, VERDICT r21
    * #5): a `CollectMetrics` (observe) node counts changed labels WHILE
    * the eager `localCheckpoint` computes the round, so each round costs
    * ONE driver job instead of two (the old shape ran the checkpoint job
    * and then a separate `isEmpty` probe over the checkpointed rows —
    * pure job-submission overhead on tiny data, half the scheduler cost
    * of the suite's most job-heavy entries). The predicate is unchanged:
    * converged ⟺ no row has label ≠ _old. Lineage is truncated every
    * round with `localCheckpoint` (swap for reliable `checkpoint` on a
    * cluster) so round N's plan does not re-embed rounds 1..N-1 —
    * without this the plan doubles per round and the driver ooms on
    * optimization long before the data matters. */
  private[llm] def connectedComponents(edges: DataFrame): DataFrame = {
    // checkpoint the DIRECTED edges first so the pair-generation subtree
    // runs once, not once per union branch
    val e = edges.select(col("u"), col("v")).localCheckpoint()
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    var labels = sym.groupBy("u").agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("label"))
      .localCheckpoint()
    var rounds = 0
    var converged = false
    while (!converged && rounds < MaxCcRounds) {
      val nbrMin = sym
        .join(labels.select(col("u").as("v"), col("label").as("nl")), "v")
        .groupBy("u").agg(min(col("nl")).as("nmin"))
      // carry the previous label through the round as `_old`: convergence
      // becomes a scan-only filter on the checkpointed result instead of
      // a per-round shuffle join of next against labels
      val prop = labels.join(nbrMin, Seq("u"), "left")
        .select(col("u"), col("label").as("_old"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
      // count(when(..)) not sum: count is 0 (not NULL) over zero rows,
      // so an empty label table converges on round 1 like the old
      // isEmpty probe did
      val metric = s"cc_round_$rounds"
      val observed = prop
        .join(prop.select(col("u").as("label"), col("label").as("jump")),
          Seq("label"), "left")
        .select(col("u"), col("_old"),
          coalesce(col("jump"), col("label")).as("label"))
        .observe(metric,
          count(when(col("label") =!= col("_old"), lit(1))).as("changed"))
      val next = observed.localCheckpoint() // eager: runs the round's ONE job
      converged =
        observed.queryExecution.observedMetrics(metric).getAs[Long]("changed") == 0L
      labels = next.select(col("u"), col("label"))
      rounds += 1
    }
    require(converged, s"connected components did not converge in $MaxCcRounds rounds")
    labels.select(col("u").as("node"), col("label").as("component"))
  }

  /** Dedup-cluster resolution — the stage after pair generation that every
    * dedup pipeline needs before it can drop rows: near-dup PAIRS are not
    * a keep/drop decision (A~B, B~C does not say which of {A,B,C} to keep);
    * the transitive closure of the pair graph is. Resolves the exact-Jaccard
    * near-dup pairs (≥ 0.5) into connected components and emits one row per
    * clustered document with its cluster id (= min doc_id in the component,
    * the conventional keep-one policy), the cluster size, and whether this
    * document is the canonical survivor. Documents with no near-dup are not
    * emitted — at corpus scale the clustered set is tiny relative to the
    * corpus, and the anti-join against it is the caller's drop step. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    dedupClustersFrame(spark, dir).orderBy("doc_id")

  /** The cluster labels as a value: [[dedupClustersFrame]] pinned with
    * an eager `localCheckpoint` (the label table is tiny — clustered docs
    * only), so a consumer that reads it more than once runs the
    * shingle→pairs→CC build once. Every consumer entry builds its own
    * labels inside its call and lets them go with it; nothing is
    * remembered across calls, so a rewritten corpus is never answered
    * with labels built from its old bytes. */
  private[llm] def clusterLabels(spark: SparkSession, dir: String): DataFrame =
    dedupClustersFrame(spark, dir).localCheckpoint()

  /** Unordered cluster labels, shared by [[dedupClusters]] and
    * (through [[clusterLabels]]) the consumer entries, which feed joins —
    * a presentation sort under them would be wasted work. */
  private[llm] def dedupClustersFrame(spark: SparkSession, dir: String): DataFrame =
    clusterRows(components(spark, dir))

  /** (doc_id, cluster_id, cluster_size, is_canonical) from (node,
    * component) labels — the row shape of the full and the incremental
    * cluster entries. */
  private def clusterRows(comp: DataFrame): DataFrame = {
    // cluster count ≪ corpus: the size side broadcasts under AQE
    val sizes = comp.groupBy("component").agg(count(lit(1)).as("cluster_size"))
    comp.join(sizes, "component")
      .select(col("node").as("doc_id"), col("component").as("cluster_id"),
        col("cluster_size"), (col("node") === col("component")).as("is_canonical"))
  }

  /** (node, component) over the corpus's exact-Jaccard pair graph: the
    * shingle → pairs → [[connectedComponents]] wiring under both
    * [[dedupClustersFrame]] and [[dedupApply]]. */
  private def components(spark: SparkSession, dir: String): DataFrame =
    connectedComponents(
      ngramJaccardPairsFrom(withShingles(spark, dir), DefaultMaxShingleDf)
        .select(col("doc_a").as("u"), col("doc_b").as("v")))

  /** The drop step that finishes the dedup pipeline: the corpus with
    * every non-canonical clustered document removed — one row per
    * surviving document. Pairs say who is similar, clusters say who
    * survives, and THIS is the frame a training job actually reads.
    *
    * Scale shape: the drop list is only the clustered non-canonical
    * documents — near-dup clusters are a small fraction of any corpus —
    * so the anti-join broadcasts under AQE and the corpus side streams
    * map-only, never shuffling a document row. The drop list is read
    * straight off the [[components]] built inside this call — a node
    * whose component is not itself — so every execution pays the pair
    * and component build plus the anti-join, and none of the cluster
    * sizes or the label checkpoint [[clusterLabels]] adds for its
    * multi-read consumers. */
  def dedupApply(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val drops = components(spark, dir)
      .filter(col("node") =!= col("component")).select(col("node").as("doc_id"))
    docs.join(drops, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** Corpus duplication profile — the histogram of dedup-cluster sizes
    * including the singleton mass: how many clusters of each size the
    * corpus carries and how many documents they bind. THE summary
    * number a curation review reads first ("what fraction of the corpus
    * is duplicated, and is it many pairs or a few megaclusters?") and
    * the input to policy choices like keep-best vs keep-first.
    *
    * Scale shape: the [[clusterLabels]] table (clustered-docs-sized,
    * checkpointed once in this call) feeds both branches; the histogram
    * is one counter aggregate over one row per CLUSTER (canonical rows
    * only), and the singleton row is one anti-join count — the corpus
    * side streams map-only. */
  def clusterSizeHistogram(spark: SparkSession, dir: String): DataFrame = {
    val art = clusterLabels(spark, dir)
    val hist = art.filter(col("is_canonical"))
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
    val singles = Tables.documents(spark, dir).select("doc_id")
      .join(art.select("doc_id"), Seq("doc_id"), "left_anti")
      .agg(count(lit(1)).as("n"))
      .select(lit(1L).as("cluster_size"), col("n").as("n_clusters"),
        col("n").as("n_docs"))
    hist.union(singles).orderBy("cluster_size")
  }

  /** Oracle: recursive-closure labels → per-cluster sizes → histogram,
    * singleton mass from the complement count. */
  val clusterSizeHistogramSql: String =
    s"""WITH RECURSIVE $jaccardClosureCteSql, sized AS (
       |  SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY cluster_id
       |), hist AS (
       |  SELECT cluster_size, count(*) AS n_clusters,
       |         cluster_size * count(*) AS n_docs
       |  FROM sized GROUP BY cluster_size
       |  UNION ALL
       |  SELECT 1 AS cluster_size, count(*) AS n_clusters, count(*) AS n_docs
       |  FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM comp)
       |)
       |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       |       CAST(n_clusters AS BIGINT) AS n_clusters,
       |       CAST(n_docs AS BIGINT) AS n_docs
       |FROM hist ORDER BY cluster_size""".stripMargin

  /** Window length (tokens) for [[substringDedup]] — the span size above
    * which a cross-document repeat is treated as duplicated text rather
    * than chance collocation (the published exact-substring-dedup
    * pipelines use 50-token spans at web scale; 20 keeps the entry
    * exercised on this corpus's near-dup families). */
  private val SubstrWin = 20

  /** EXACT SUBSTRING dedup — the span-level companion to the
    * document-level kernels above: document pairs below any whole-doc
    * similarity threshold can still share long verbatim runs
    * (boilerplate headers, quoted passages, templated sections), and
    * span-level dedup is what the training-data literature actually
    * prescribes for those. Emits one row per document with its
    * [[SubstrWin]]-token window count, how many of those windows also
    * occur in ANOTHER document, the duplicated fraction, and the longest
    * duplicated run (in tokens) — the trim candidate.
    *
    * Shape at 100 TB: the window stream is (doc_id, pos, xxhash64(win))
    * — fixed-width rows, never the window text (the jaccard-kernel key
    * discipline; same documented 64-bit collision assumption, the
    * oracle groups raw strings). One explode feeds both phases through
    * a cache: the duplicated-hash set (two-level aggregate: distinct
    * (h, doc) map-side, then df ≥ 2) and the mark-back (left_semi on
    * the hash — fixed-width shuffle both sides). Run lengths come from
    * an IN-ROW fold over each doc's sorted duplicated positions — no
    * window function, no second shuffle. Window hashing is
    * O(W · tokens) here (concat_ws per window inside codegen); the
    * rolling-hash upgrade (one O(tokens) pass, the [[graft.functions.PolyHash]]
    * recurrence extended to windows) is the known next step if the
    * hashing stage ever dominates at real scale. */
  def substringDedup(spark: SparkSession, dir: String): DataFrame =
    substringDedupFrom(Tables.spread(Tables.documents(spark, dir)))

  /** The window stream both substring entries read: the tokenized docs
    * (doc_id, ws) and, cached, one (doc_id, pos, h) row per
    * [[SubstrWin]]-token window, h the xxhash64 of the window text at
    * 1-based token pos. Each entry reads the stream twice (its
    * duplicated-hash set and its mark-back join). */
  private def windowHashes(docs: DataFrame): (DataFrame, DataFrame) = {
    val toks = docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("ws"))
    val ex = toks.filter(size(col("ws")) >= SubstrWin)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(1, size(ws) - ${SubstrWin - 1}), i ->
           |  named_struct('pos', i,
           |               'h', xxhash64(concat_ws(' ', slice(ws, i, $SubstrWin)))))"""
          .stripMargin)).as("w"))
      .select(col("doc_id"), col("w.pos").as("pos"), col("w.h").as("h"))
      .scratchCache()
    (toks, ex)
  }

  /** Kernel over any (doc_id, text) frame — factored so the spec can pin
    * the semantics on planted fixtures (a known shared run, a
    * within-doc-only repeat, a short doc). */
  private[llm] def substringDedupFrom(docs: DataFrame): DataFrame = {
    val (toks, ex) = windowHashes(docs)
    // windows present in >= 2 DISTINCT docs (within-doc repetition is
    // repetition_metrics' business, not dedup's)
    val dup = ex.select("h", "doc_id").distinct()
      .groupBy("h").agg(count(lit(1)).as("dd"))
      .filter(col("dd") >= 2).select("h")
    val marked = ex.join(dup, Seq("h"), "left_semi")
    val perDoc = marked.groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_windows"),
        sort_array(collect_list(col("pos"))).as("ps"))
      .withColumn("best", expr(
        """aggregate(ps,
          |  named_struct('prev', -2, 'cur', 0, 'best', 0),
          |  (acc, p) -> named_struct(
          |    'prev', p,
          |    'cur',  CASE WHEN p = acc.prev + 1 THEN acc.cur + 1 ELSE 1 END,
          |    'best', greatest(acc.best,
          |            CASE WHEN p = acc.prev + 1 THEN acc.cur + 1 ELSE 1 END)),
          |  acc -> acc.best)""".stripMargin))
      .select(col("doc_id"), col("n_dup_windows"), col("best"))
    toks.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_tokens"),
        greatest(size(col("ws")) - (SubstrWin - 1), lit(0)).cast("long").as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("best"), lit(0)).as("best"))
      .withColumn("dup_ratio",
        when(col("n_windows") === 0, lit(null).cast("double"))
          .otherwise(round(col("n_dup_windows").cast("double") / col("n_windows"), 6)))
      .withColumn("max_dup_span",
        when(col("n_dup_windows") === 0, lit(0L))
          .otherwise((col("best") + (SubstrWin - 1)).cast("long")))
      .select("doc_id", "n_tokens", "n_windows", "n_dup_windows",
        "dup_ratio", "max_dup_span")
      .orderBy("doc_id")
  }

  /** SPAN TRIM PLAN — the consumer that turns [[substringDedup]]'s
    * report into the literature's actual edit: every duplicated window
    * keeps exactly ONE copy corpus-wide (the minimum doc_id holding it —
    * deterministic, mirrors the cluster-canonical min-id policy), and
    * every other holder marks the window's tokens for removal. Emits
    * per document the tokens-to-remove count (overlapping spans merged,
    * not double-counted) and the surviving fraction — the numbers a
    * pipeline reviews before committing a destructive trim.
    *
    * Same fixed-width window-hash stream as [[substringDedup]] (the two
    * entries' cache plans are identical, so a session running both pays
    * the explode once); removal coverage is an IN-ROW interval-union
    * fold over each doc's sorted marked positions — windows all span
    * [[SubstrWin]] tokens, so the fold just carries the furthest
    * covered end and adds the uncovered suffix of each new span. */
  def substringTrim(spark: SparkSession, dir: String): DataFrame =
    substringTrimFrom(Tables.spread(Tables.documents(spark, dir)))

  private[llm] def substringTrimFrom(docs: DataFrame): DataFrame = {
    val (toks, ex) = windowHashes(docs)
    // duplicated windows with their corpus-wide keeper (min doc_id)
    val keepers = ex.select("h", "doc_id").distinct()
      .groupBy("h").agg(count(lit(1)).as("dd"), min(col("doc_id")).as("keeper"))
      .filter(col("dd") >= 2)
      .select("h", "keeper")
    val marked = ex.join(keepers, Seq("h"))
      .filter(col("doc_id") =!= col("keeper"))
      .select("doc_id", "pos").distinct()
    val perDoc = marked.groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
      .select(col("doc_id"), expr(
        s"""aggregate(ps,
           |  named_struct('fin', 0, 'tot', 0),
           |  (acc, p) -> named_struct(
           |    'fin', greatest(acc.fin, p + $SubstrWin),
           |    'tot', acc.tot + greatest(0, p + $SubstrWin - greatest(acc.fin, p))),
           |  acc -> acc.tot)""".stripMargin).cast("long").as("n_removed"))
    toks.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
      .withColumn("keep_ratio",
        when(col("n_tokens") === 0, lit(null).cast("double"))
          .otherwise(round((col("n_tokens") - col("n_removed")).cast("double") /
            col("n_tokens"), 6)))
      .orderBy("doc_id")
  }

  /** The substring oracles' window stream over raw window strings: `w`
    * (doc_id, ws) and `s` (doc_id, pos, win), one row per window. */
  private val windowsCteSql: String =
    s"""w AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM documents
       |), wins AS (
       |  SELECT doc_id, unnest(range(1, len(ws) - ${SubstrWin - 2})) AS pos, ws
       |  FROM w WHERE len(ws) >= $SubstrWin
       |), s AS (
       |  SELECT doc_id, pos,
       |         array_to_string(list_slice(ws, pos, pos + ${SubstrWin - 1}), ' ') AS win
       |  FROM wins
       |)""".stripMargin

  /** Oracle: keeper pick and removal mark over raw window strings;
    * coverage via lateral range expansion + DISTINCT instead of the
    * engine's interval fold — same merged-union semantics. */
  val substringTrimSql: String =
    s"""WITH $windowsCteSql, dupk AS (
       |  SELECT win, min(doc_id) AS keeper
       |  FROM (SELECT DISTINCT win, doc_id FROM s)
       |  GROUP BY win HAVING count(*) >= 2
       |), rm AS (
       |  SELECT s.doc_id, s.pos FROM s JOIN dupk USING (win)
       |  WHERE s.doc_id <> dupk.keeper
       |), cov AS (
       |  SELECT DISTINCT doc_id, unnest(range(pos, pos + $SubstrWin)) AS tok FROM rm
       |), agg AS (
       |  SELECT doc_id, count(*) AS n_removed FROM cov GROUP BY doc_id
       |)
       |SELECT w.doc_id,
       |       CAST(len(w.ws) AS BIGINT) AS n_tokens,
       |       CAST(coalesce(a.n_removed, 0) AS BIGINT) AS n_removed,
       |       CASE WHEN len(w.ws) = 0 THEN NULL
       |            ELSE round(CAST(len(w.ws) - coalesce(a.n_removed, 0) AS DOUBLE)
       |                       / len(w.ws), 6) END AS keep_ratio
       |FROM w LEFT JOIN agg a ON a.doc_id = w.doc_id
       |ORDER BY w.doc_id""".stripMargin

  /** Oracle: identical phases over raw window strings; the run length
    * uses the gaps-and-islands idiom where the engine folds in-row. */
  val substringDedupSql: String =
    s"""WITH $windowsCteSql, dup AS (
       |  SELECT win FROM s GROUP BY win HAVING count(DISTINCT doc_id) >= 2
       |), m AS (
       |  SELECT doc_id, pos FROM s WHERE win IN (SELECT win FROM dup)
       |), runs AS (
       |  SELECT doc_id, count(*) AS run_len
       |  FROM (SELECT doc_id, pos,
       |               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |        FROM m)
       |  GROUP BY doc_id, grp
       |), agg AS (
       |  SELECT doc_id, count(*) AS n_dup FROM m GROUP BY doc_id
       |), best AS (
       |  SELECT doc_id, max(run_len) AS best FROM runs GROUP BY doc_id
       |)
       |SELECT w.doc_id,
       |       CAST(len(w.ws) AS BIGINT) AS n_tokens,
       |       CAST(greatest(len(w.ws) - ${SubstrWin - 1}, 0) AS BIGINT) AS n_windows,
       |       CAST(coalesce(a.n_dup, 0) AS BIGINT) AS n_dup_windows,
       |       CASE WHEN greatest(len(w.ws) - ${SubstrWin - 1}, 0) = 0 THEN NULL
       |            ELSE round(CAST(coalesce(a.n_dup, 0) AS DOUBLE)
       |                       / (len(w.ws) - ${SubstrWin - 1}), 6) END AS dup_ratio,
       |       CAST(CASE WHEN a.n_dup IS NULL THEN 0
       |                 ELSE b.best + ${SubstrWin - 1} END AS BIGINT) AS max_dup_span
       |FROM w
       |LEFT JOIN agg a ON a.doc_id = w.doc_id
       |LEFT JOIN best b ON b.doc_id = w.doc_id
       |ORDER BY w.doc_id""".stripMargin

  /** Candidate pairs TOUCHING the new batch — the merge-shaped pair
    * generator behind [[dedupIncremental]]. Input frame carries
    * (doc_id, shingles, is_new); output is exactly the subset of
    * [[ngramJaccardPairsFrom]]'s pairs where at least one side is new.
    *
    * What makes this incremental at 100 TB: posting lists with NO new
    * member are dropped before any pair expands (`exists(ds, is_new)` —
    * at a realistic arrival rate that is almost every list), and the
    * surviving lists expand only new×any pairs in-row, so the existing
    * corpus is never re-joined against itself. df counts and Jaccard
    * denominators still run over the FULL corpus — they must, for the
    * emitted pairs to carry the same jaccard the full kernel computes
    * (the equivalence [[dedupIncremental]]'s oracle asserts). */
  private[llm] def ngramJaccardPairsTouchingNew(sh: DataFrame, maxDf: Int): DataFrame = {
    // one-pass capped posting build — see shingleIntersections (r22).
    // The r21 sizedSpread+scratchCache existed for the two-read shape
    // (df head count + posting build, where the A/B measured −11% on
    // the min); with the fused aggregate the stream is consumed ONCE,
    // so both are gone with the second read they served.
    val ex = sh.select(col("doc_id"), col("is_new"), size(col("shingles")).as("n"),
        explode(expr("transform(shingles, s -> xxhash64(s))")).as("s"))
    val postings = ex
      .groupBy("s")
      .agg(CappedStructList.of(
        struct(col("doc_id"), col("n"), col("is_new")), maxDf).as("ds0"))
      .filter(col("ds0").isNotNull && size(col("ds0")) >= 2)
      // the incremental cut: lists the new batch never touches cannot
      // produce a new-touching pair — drop them before expansion
      .filter(expr("exists(ds0, d -> d.is_new)"))
      .select(sort_array(col("ds0")).as("ds"))
    // native pair expansion (r22 §12); the old in-array `filter` HOF is
    // now a codegen'd row filter AFTER explode — identical surviving rows
    val occ = postings.select(explode(OrderedPairs.of(col("ds"))).as("p"))
      .filter(col("p.a.is_new") || col("p.b.is_new"))
    occ
      .groupBy(col("p.a.doc_id").as("doc_a"), col("p.b.doc_id").as("doc_b"),
        col("p.a.n").as("na"), col("p.b.n").as("nb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 6))
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Incremental cluster maintenance over a prepared
    * (doc_id, shingles, is_new) frame — the kernel under
    * [[dedupIncremental]], factored for the equivalence property test.
    * This overload builds the prior labels from the base rows first —
    * the table the previous run persisted in a real pipeline, pinned
    * with an eager `localCheckpoint` — and passes them to the delta
    * path. The prior excludes the arriving batch, or the "incremental"
    * run would read its own answer. */
  private[llm] def dedupIncrementalFrom(sh: DataFrame, maxDf: Int): DataFrame =
    dedupIncrementalFrom(sh, maxDf, priorLabelEdges(sh, maxDf).localCheckpoint())

  /** Prior (member → label) star edges for the base (non-new) rows of a
    * shingled frame — the same pair kernel + CC the full rebuild runs. */
  private def priorLabelEdges(sh: DataFrame, maxDf: Int): DataFrame =
    connectedComponents(
      ngramJaccardPairsFrom(sh.filter(!col("is_new")).drop("is_new"), maxDf)
        .select(col("doc_a").as("u"), col("doc_b").as("v")))
      .select(col("node").as("u"), col("component").as("v"))

  private[llm] def dedupIncrementalFrom(
      sh: DataFrame, maxDf: Int, prior: DataFrame): DataFrame = {
    // delta edges: only pairs touching the new batch
    val delta = ngramJaccardPairsTouchingNew(sh, maxDf)
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
    // resolve on the REDUCED graph: each prior cluster collapses to its
    // label star, so CC never revisits existing-existing pairs, yet
    // connectivity (and the min-id labels) is exactly that of the full
    // pair graph on base ∪ new
    clusterRows(connectedComponents(prior.unionByName(delta)))
  }

  /** Incremental dedup — the MERGE-shaped cluster maintenance a 100 TB
    * pipeline actually runs when a new crawl batch arrives (pairs with
    * [[graft.warehouse.Merge.mergeCdc]] the way [[dedupClusters]] pairs
    * with a full rebuild): the already-clustered corpus is NOT
    * re-clustered; the new batch (here `doc_id % 10 = 7`, ~10% of the
    * corpus) candidate-joins against the full shingle index, only
    * new-touching pairs are scored, and the prior cluster labels enter
    * the component resolution as pre-collapsed label stars. The prior
    * labels (the persisted-output-of-the-last-run role) are built inside
    * this call, so every execution pays the prior build plus the delta
    * path.
    *
    * Correctness contract: the result is IDENTICAL to re-clustering the
    * union from scratch — the oracle for this entry IS the full
    * re-cluster SQL ([[dedupClustersSql]]), and DedupSpec proves the
    * equivalence on fixtures built to break naive variants (a new doc
    * bridging two prior clusters; a new doc whose only near-dup is a
    * NON-canonical prior member — the case a canonical-only candidate
    * join would miss). */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val sh = withShingles(spark, dir)
      .withColumn("is_new", col("doc_id") % 10 === 7)
    dedupIncrementalFrom(sh, DefaultMaxShingleDf).orderBy("doc_id")
  }

  /** Cross-source overlap matrix — pairwise shingle-set Jaccard between
    * crawl sources: the contamination audit that answers "which two
    * feeds are re-crawling the same sites" BEFORE document-level dedup
    * ever sees the pairs (two sources can share most of their text
    * without any single document pair crossing the near-dup threshold).
    * One row per source pair with any shared 3-gram shingle: distinct
    * shingle counts, the shared count, and Jaccard.
    *
    * Shape at 100 TB: ONE corpus scan — the shingle stream collapses
    * into a per-shingle source vocabulary (`collect_set(source)`, a few
    * bytes per shingle since sources number in the dozens) under a
    * single hash aggregate with map-side-deduped partials; pair counts
    * come from expanding each vocabulary's ≤ sources²/2 combinations
    * IN-ROW (no self-join, no second shuffle of the shingle stream),
    * and per-source totals re-read the same cached vocab frame.
    * The output is sources²/2 rows.
    *
    * The aggregate keys on `xxhash64(shingle)`, NOT the shingle string —
    * the [[ngramJaccardPairsFrom]] discipline: a fixed 8-byte key in the
    * 10⁵-10⁹-group hash map and shuffle instead of a 20-30-byte string
    * (measured 5× on the aggregate: 14.4 s → 2.6 s at sf0.1). Same
    * shared hash-collision assumption as the jaccard kernel (the oracle
    * groups raw strings): a 64-bit collision would merge two shingles'
    * source sets; birthday-negligible below ~10⁹ distinct shingles. */
  def sourceOverlapMatrix(spark: SparkSession, dir: String): DataFrame = {
    // Shared by `counts` and `pairs`, so materialize once — via .cache(),
    // NOT localCheckpoint: checkpoint blocks are invisible to
    // `catalog.clearCache()` and are freed only when the GC notices the
    // dropped RDD reference, so repeated executions (a bench loop, a
    // long-lived session re-running the audit) pile dead copies of the
    // per-shingle frame into storage memory until eviction pressure
    // throttles every later pass (measured: 2.8 s first execution
    // drifting past 27 s by the third on an otherwise quiet machine).
    // Cache blocks are dropped at every clearCache, so each execution
    // pays the same cost.
    val bySh = shinglesOf(Tables.spread(Tables.documents(spark, dir)))
      .select(col("source"),
        explode(expr("transform(shingles, s -> xxhash64(s))")).as("shingle"))
      .groupBy("shingle")
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
      .scratchCache()
    val counts = bySh.select(explode(col("srcs")).as("source"))
      .groupBy("source").agg(count(lit(1)).as("n"))
    // native pair expansion — see shingleIntersections (r22 §12)
    val pairs = bySh
      .filter(size(col("srcs")) >= 2)
      .select(explode(OrderedPairs.of(col("srcs"))).as("p"))
      .groupBy(col("p.a").as("source_a"), col("p.b").as("source_b"))
      .agg(count(lit(1)).as("shared"))
    pairs
      .join(counts.select(col("source").as("source_a"), col("n").as("n_a")), "source_a")
      .join(counts.select(col("source").as("source_b"), col("n").as("n_b")), "source_b")
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"), col("shared"),
        round(col("shared").cast("double") /
          (col("n_a") + col("n_b") - col("shared")), 6).as("jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** Oracle: same source-level distinct-shingle sets and pair join. */
  val sourceOverlapMatrixSql: String =
    """WITH docs AS (
      |  SELECT source, string_split_regex(trim(text), '\s+') AS ws FROM documents
      |), sh AS (
      |  SELECT DISTINCT source,
      |         unnest(list_distinct(list_transform(range(1, len(ws) - 1),
      |                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS shingle
      |  FROM docs WHERE len(ws) >= 3
      |), c AS (
      |  SELECT source, count(*) AS n FROM sh GROUP BY source
      |), p AS (
      |  SELECT a.source AS source_a, b.source AS source_b, count(*) AS shared
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
      |  GROUP BY 1, 2
      |)
      |SELECT source_a, source_b, ca.n AS n_a, cb.n AS n_b, shared,
      |       round(CAST(shared AS DOUBLE) / (ca.n + cb.n - shared), 6) AS jaccard
      |FROM p
      |JOIN c ca ON source_a = ca.source
      |JOIN c cb ON source_b = cb.source
      |ORDER BY source_a, source_b""".stripMargin

  /** Per-source duplication report — the QA dashboard a dedup run ships
    * with: for each source, how many documents it contributed, how many
    * sit in a near-dup cluster, how many the keep-one policy drops, and
    * the drop ratio. This is what decides whether a source's mixing
    * weight needs re-tuning after dedup (a source that loses 40% of its
    * rows to clusters is over-weighted upstream).
    *
    * The (tiny) [[clusterLabels]] table broadcast-joins LEFT onto the
    * corpus projection and the report is one source-keyed hash
    * aggregate on top of the in-call CC build. */
  def dedupReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "source")
    val clusters = clusterLabels(spark, dir)
      .select(col("doc_id"), col("is_canonical"))
    docs.join(clusters, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_canonical").isNotNull, 1L).otherwise(0L)).as("n_clustered"),
        sum(when(col("is_canonical") === false, 1L).otherwise(0L)).as("n_dropped"))
      .withColumn("dup_ratio",
        round(col("n_dropped").cast("double") / col("n_docs"), 6))
      .orderBy("source")
  }

  /** Oracle: the shared recursive-closure labels, LEFT-joined per source. */
  val dedupReportSql: String =
    s"""WITH RECURSIVE $jaccardClosureCteSql
       |SELECT d.source, count(*) AS n_docs,
       |       CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_clustered,
       |       CAST(sum(CASE WHEN c.doc_id IS NOT NULL AND c.doc_id <> c.cluster_id
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       |       round(CAST(sum(CASE WHEN c.doc_id IS NOT NULL AND c.doc_id <> c.cluster_id
       |                          THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS dup_ratio
       |FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  /** Keep-BEST dedup apply — the policy variant of [[dedupApply]]: instead
    * of the min-id canonical, each near-dup cluster keeps its LONGEST
    * member (`n_chars` max, ties to the lower doc_id) — the real-world
    * keep policy when near-dups are truncated/boilerplate variants of one
    * underlying page and the longest copy carries the most content.
    *
    * Reads the [[clusterLabels]] built in its call. The per-cluster winner is a
    * struct-argmax (the `latest_event_per_user` idiom): map-side partial
    * max ships one candidate per cluster per partition, never the
    * membership; the drop list (clustered non-winners) stays near-dup
    * sized, so the final anti-join broadcasts and the corpus streams
    * map-only — identical scale shape to [[dedupApply]], different
    * policy. */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val clustered = clusterLabels(spark, dir).select("doc_id", "cluster_id")
      .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
    val best = clustered
      .groupBy("cluster_id")
      .agg(max(struct(col("n_chars"), (-col("doc_id")).as("neg_id"))).as("b"))
      .select(col("cluster_id"), (-col("b.neg_id")).cast("long").as("best_doc"))
    val drops = clustered.join(best, "cluster_id")
      .filter(col("doc_id") =!= col("best_doc")).select("doc_id")
    docs.join(drops, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** Oracle: same closure labels; the winner per cluster via ROW_NUMBER
    * over (n_chars DESC, doc_id). */
  val dedupKeepBestSql: String =
    s"""WITH RECURSIVE $jaccardClosureCteSql, best AS (
       |  SELECT doc_id FROM (
       |    SELECT c.doc_id,
       |           row_number() OVER (PARTITION BY c.cluster_id
       |                              ORDER BY d.n_chars DESC, c.doc_id) AS rn
       |    FROM comp c JOIN documents d ON c.doc_id = d.doc_id
       |  ) WHERE rn = 1
       |)
       |SELECT d.doc_id, d.lang, d.source, d.n_chars
       |FROM documents d
       |WHERE d.doc_id NOT IN (SELECT doc_id FROM comp)
       |   OR d.doc_id IN (SELECT doc_id FROM best)
       |ORDER BY d.doc_id""".stripMargin

  /** Oracle: transitive closure of the same pair CTE via a recursive CTE —
    * min reachable id per node. Tractable at oracle scale only; the Spark
    * side never materializes reachability, just labels. */
  val dedupClustersSql: String =
    s"""WITH RECURSIVE $jaccardClosureCteSql, sized AS (
       |  SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY cluster_id
       |)
       |SELECT c.doc_id, c.cluster_id, s.cluster_size,
       |       c.doc_id = c.cluster_id AS is_canonical
       |FROM comp c JOIN sized s USING (cluster_id)
       |ORDER BY doc_id""".stripMargin

  /** Oracle: same recursive-closure labels; keep documents that are not a
    * non-canonical member of any cluster. */
  val dedupApplySql: String =
    s"""WITH RECURSIVE $jaccardClosureCteSql
       |SELECT d.doc_id, d.lang, d.source, d.n_chars
       |FROM documents d
       |WHERE d.doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> cluster_id)
       |ORDER BY d.doc_id""".stripMargin

  /** The SimHash oracle over an arbitrary corpus source at 1 or 2
    * words: per-bit ±1 votes over each shingle's md5 word, then all-pairs
    * Hamming summed over the words — the unbanded truth the kernel's
    * pigeonhole banding matches exactly. */
  private[llm] def simhashPairsSql(src: String, words: Int): String = {
    val fps = simhashColumns(words)
    val hashes = if (words == 1) Seq("hashes") else (1 to words).map(w => s"h$w")
    val hashCols = hashes.zipWithIndex.map { case (h, w) =>
      s"         list_transform(shingles, s -> ('0x' || substr(md5(s), ${w * 15 + 1}, 15))::BIGINT) AS $h"
    }.mkString(",\n")
    val voteCols = hashes.zip(fps).map { case (h, fp) =>
      s"""         list_reduce(list_prepend(0::BIGINT, range(0, $SimBits)),
         |           (acc, j) -> acc + CASE WHEN list_reduce(list_prepend(0::BIGINT, $h),
         |                                   (a, h) -> a + CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END) > 0
         |                             THEN (1::BIGINT << j) ELSE 0::BIGINT END) AS $fp""".stripMargin
    }.mkString(",\n")
    val hamming = fps.map(fp => s"bit_count(xor(a.$fp, b.$fp))").mkString(" + ")
    s"""WITH ${shinglesCte(src)}, hs AS (
       |  SELECT doc_id,
       |$hashCols
       |  FROM sh
       |), sim AS (
       |  SELECT doc_id,
       |$voteCols
       |  FROM hs
       |)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       CAST($hamming AS BIGINT) AS hamming
       |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
       |WHERE $hamming <= $HamMax
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  val simhashDedupSql: String = simhashPairsSql("documents", words = 1)

  /** Document-frequency cap for [[tfidfCosinePairs]]'s inverted index —
    * shingles in more documents than this are dropped before the pair
    * join (the skew guard every inverted-index joiner here carries; far
    * above this corpus's max shingle df, so the default entry is exact). */
  private val CosDfCap = 20

  /** Cosine similarity floor for a pair to be reported. */
  private val CosMinSim = 0.30

  /** TF-IDF–weighted cosine near-dup pairs — the SOFT companion to
    * [[ngramJaccardPairs]]: where Jaccard scores distinct-shingle set
    * overlap, this weights every shared 3-gram by how corpus-distinctive
    * it is (idf) and how often the document repeats it (tf), the
    * weighted bag-of-ngrams scorer curation pipelines use when boilerplate
    * shingles shouldn't count as much as rare ones.
    *
    * Shape at 100 TB: candidate generation is the df-capped inverted
    * shingle index — docs meet ONLY through a shared shingle whose df ≤
    * [[CosDfCap]] (never all-pairs; the hot boilerplate head is dropped,
    * which for THIS scorer is not even an approximation so much as the
    * model — near-ubiquitous shingles carry ~zero idf weight). The tf
    * aggregate collapses the token stream map-side; df derives from tf
    * (vocabulary-sized, one pass); the pair join shuffles on the 64-bit
    * shingle hash. Weighted sums accumulate as exact micro-unit LONGS
    * over 6dp-quantized per-term products — combination-order-proof, so
    * both engines see bit-identical dots and norms (the `revenue_cusum`
    * determinism stance applied to a float dot product), and the hot
    * pair-stream loop is pure primitive arithmetic (the DECIMAL spelling
    * it replaced paid a BigDecimal string format per candidate pair —
    * the r19 organic pricing study, SCALE.md). */
  def tfidfCosinePairs(spark: SparkSession, dir: String): DataFrame =
    tfidfCosineFrom(Tables.spread(Tables.documents(spark, dir)))

  /** The weighted-cosine kernel over any (doc_id, text) frame — factored
    * so specs can plant near-duplicates with known similarity.
    *
    * The tf stage is ROW-LOCAL (r17, the fingerprint-kernel insight
    * applied to term counting): a document's term frequencies only read
    * its own shingles, so instead of exploding every OCCURRENCE and
    * shuffling the full duplicate-bearing stream onto (doc_id, shingle)
    * — the largest intermediate in this kernel, ~30× document bytes —
    * each row sorts its shingle array and counts runs
    * ([[TextAnalysis.withTermCounts]], shared with `tfidf_top_terms`).
    * What explodes afterwards is one row per DISTINCT term per doc,
    * already exactly the tf frame, and the first exchange in the plan
    * is the df/pair-join shuffle on the 64-bit term hash. */
  private[llm] def tfidfCosineFrom(docs: DataFrame): DataFrame = {
    // scratchCache: tf feeds BOTH the df aggregate and the weight join —
    // the old groupBy formulation materialized it implicitly in its
    // shuffle files (both consumers read the reused exchange); with the
    // exchange gone the cache keeps the shingling+counting single-pass
    val tf = TextAnalysis.withTermCounts(
        docs
          .withColumn("ws", split(trim(col("text")), "\\s+"))
          .filter(size(col("ws")) >= 3)
          .withColumn("sg", expr(
            "transform(sequence(1, size(ws) - 2), i -> concat_ws(' ', ws[i-1], ws[i], ws[i+1]))")),
        "sg", "tcs")
      // explode_OUTER, deliberately: a plain explode plants a
      // size(tcs) > 0 generator filter whose predicate inlines the whole
      // shingling+counting chain, and pushdown then evaluates it
      // interpreted on the pre-spread single-split scan (measured 3×
      // the kernel). tcs is non-empty by construction (size(ws) >= 3
      // guarantees a shingle), so outer ≡ inner; the null guard keeps
      // the contract explicit at column cost, not expression cost.
      .select(col("doc_id"), explode_outer(col("tcs")).as("e"))
      .filter(col("e").isNotNull)
      .select(col("doc_id"), xxhash64(col("e.term")).as("sh"),
        col("e.tf").as("tf"))
      .scratchCache()
    val df = tf.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= CosDfCap)
    val nDocs = tf.agg(countDistinct(col("doc_id")).as("n_docs"))
    // shared by norms and both sides of the pair join — materialize once
    // (cache, not localCheckpoint: the sourceOverlapMatrix storage-reuse
    // rationale, Dedup.scala:1049)
    val w = tf.join(df, "sh")
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("sh"),
        (col("tf") * log(col("n_docs").cast("double") / col("df"))).as("w"))
      .scratchCache()
    // MICRO-UNIT LONG accumulation (r19, the organic-25× pricing study,
    // SCALE.md): the old spelling rounded every per-term product to a
    // 6dp DECIMAL — round(double, 6) evaluates via
    // BigDecimal.valueOf(Double.toString(x)), a per-row STRING format,
    // and the decimal sum adds BigDecimal allocations on top, all paid
    // on the CANDIDATE PAIR stream (jstack: the partial aggregate over
    // the pair join was the kernel's hot stage, Double.toString inside
    // it). Quantizing each product to integer micro-units instead —
    // floor(x·1e6 + 0.5), HALF_UP since every w ≥ 0 (tf ≥ 1, idf =
    // ln(n/df) > 0 under the df cap) — makes the hot loop pure primitive
    // arithmetic: long sums are exact and combination-order-proof
    // (better than decimal, no allocation), and the one divide-back
    // happens per OUTPUT group. The 6dp quantum matches the old decimal
    // scale; the only value drift is binary-vs-shortest-decimal ties at
    // the 5e-7 boundary (the r19 study measured ZERO moved output rows
    // at sf0.01 and sf0.1). Overflow headroom: |w| ≤ tf·ln(n) keeps a
    // pair's micro-dot orders of magnitude under 2⁶³ on any plausible
    // corpus, and ANSI mode makes a true overflow loud, not wrong.
    // The oracle uses the IDENTICAL integer formulation.
    def micro6(x: Column): Column = floor(x * lit(1e6) + lit(0.5))
    val norms = w.groupBy("doc_id")
      .agg(sum(micro6(col("w") * col("w"))).as("nsq6"))
      .select(col("doc_id"),
        sqrt(col("nsq6").cast("double") / lit(1e6)).as("nrm"))
    // Self-join kept DELIBERATELY (r21 A/B, OPTIMIZATION_r21.md): the
    // bounded-posting-list spelling (collect_list per term + in-row pair
    // expansion, the ngramJaccardPairsFrom shape) halves the term-shuffle
    // bytes on paper, but measured consistently ~3-8% SLOWER here across
    // two paired reps=9 runs (min 3.13-3.17 s join vs 3.26-3.40 s lists)
    // — at this kernel's candidate volume the list-build (buffer growth +
    // sort_array per term) costs more than the sort-merge join it
    // replaces, and the pair stream dominated neither way.
    val dots = w.as("a")
      .join(w.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(sum(micro6(col("a.w") * col("b.w"))).as("dot6"))
    val cosine = round(
      col("dot6").cast("double") / lit(1e6) / (col("na") * col("nb")), 6)
    dots
      .join(norms.select(col("doc_id").as("doc_a"), col("nrm").as("na")), "doc_a")
      .join(norms.select(col("doc_id").as("doc_b"), col("nrm").as("nb")), "doc_b")
      .filter(col("na") > 0 && col("nb") > 0)
      .select(col("doc_a"), col("doc_b"), cosine.as("cosine"))
      .filter(col("cosine") >= CosMinSim)
      .orderBy("doc_a", "doc_b")
  }

  /** Oracle: raw-string shingle join (the Spark side joins on xxhash64 —
    * same pairs absent collisions), identical decimal-summed products. */
  val tfidfCosinePairsSql: String =
    s"""WITH docs AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM documents
       |), t AS (
       |  SELECT doc_id,
       |         unnest(list_transform(range(1, len(ws) - 1),
       |                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
       |  FROM docs WHERE len(ws) >= 3
       |), tf AS (
       |  SELECT doc_id, shingle, count(*) AS tf FROM t GROUP BY 1, 2
       |), df AS (
       |  SELECT shingle, count(*) AS df FROM tf
       |  GROUP BY 1 HAVING count(*) <= $CosDfCap
       |), n AS (
       |  SELECT count(DISTINCT doc_id) AS n_docs FROM tf
       |), w AS (
       |  SELECT doc_id, shingle,
       |         tf * ln(CAST(n_docs AS DOUBLE) / df) AS w
       |  FROM tf JOIN df USING (shingle) CROSS JOIN n
       |), norms AS (
       |  SELECT doc_id,
       |         sqrt(CAST(sum(CAST(floor(w * w * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
       |              / 1e6) AS nrm
       |  FROM w GROUP BY 1
       |), dots AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         sum(CAST(floor(a.w * b.w * 1e6 + 0.5) AS BIGINT)) AS dot6
       |  FROM w a JOIN w b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT doc_a, doc_b,
       |       round(CAST(dot6 AS DOUBLE) / 1e6 / (na.nrm * nb.nrm), 6) AS cosine
       |FROM dots
       |JOIN norms na ON doc_a = na.doc_id
       |JOIN norms nb ON doc_b = nb.doc_id
       |WHERE na.nrm > 0 AND nb.nrm > 0
       |  AND round(CAST(dot6 AS DOUBLE) / 1e6 / (na.nrm * nb.nrm), 6) >= $CosMinSim
       |ORDER BY doc_a, doc_b""".stripMargin
}
