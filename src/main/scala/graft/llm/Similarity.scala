package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{ArgmaxCell, CosineSimilarity, DotProduct, SquaredL2}
import graft.sources.Layout
import graft.RunScope.ScratchCacheOps
import graft.Tables.SizedSpreadOps

/** Similarity search over the `embeddings` table (vec_id, embedding
  * ArrayType(FloatType) 64-dim, label) — beyond-reference surface for a
  * training-data pipeline: brute-force cosine top-k as the exact baseline,
  * an all-pairs kNN join on the native codegen'd CosineSimilarity
  * expression, and a random-hyperplane LSH-bucketed ANN as the scale path.
  *
  * Arithmetic contract shared by all paths and the DuckDB oracles: floats
  * are widened to double, dot/norm folds run in ascending element order,
  * cosine = dot / (sqrt(na)·sqrt(nb)), similarities are rounded to 6dp and
  * ordered (sim DESC, id ASC) — identical IEEE doubles on both engines.
  *
  * Scale design: top-k per query is a window over the per-query candidate
  * stream (never a global sort); the query set broadcasts; the ANN path
  * compares only within an LSH bucket (expected pairs n²/2^planes) and its
  * hyperplanes are compile-time ±1 literals, so the projection is a
  * codegen'd linear expression with no per-row randomness. At real scale
  * the brute-force paths shard the candidate side by partition and the ANN
  * path re-shuffles on bucket — all shapes here already partition that way.
  */
object Similarity {

  /** Brute-force cosine top-k (k=10) for the query set vec_id < 5: the
    * exact baseline every ANN variant is measured against. Cosine runs on
    * the native codegen'd [[CosineSimilarity]] kernel — bit-identical to
    * the HOF fold (same double widening, same ascending-order sum; pinned
    * by SimilaritySpec's kernel-parity test), so the oracle contract is
    * unchanged while the whole pair stream stays inside codegen. */
  def embeddingTopk(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val cands = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    val sim = round(CosineSimilarity.of(col("q_emb"), col("c_emb")), 6)
    cands.crossJoin(broadcast(queries))
      .filter(col("c_id") =!= col("q_id"))
      .withColumn("sim", sim)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))).cast("long"))
      .filter(col("rank") <= 10)
      .select("q_id", "c_id", "sim", "rank")
      .orderBy("q_id", "rank")
  }

  private val cosineCteSql: String =
    """emb AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS ed,
      |         list_reduce(list_prepend(0.0::DOUBLE,
      |           list_transform(embedding::DOUBLE[], x -> x * x)), (a, b) -> a + b) AS n2
      |  FROM embeddings
      |)""".stripMargin

  private def pairSimSql(qa: String, ca: String): String =
    s"""round(list_reduce(list_prepend(0.0::DOUBLE,
       |        list_transform(list_zip($qa.ed, $ca.ed), x -> x[1] * x[2])), (a, b) -> a + b)
       |      / (sqrt($qa.n2) * sqrt($ca.n2)), 6)""".stripMargin

  val embeddingTopkSql: String =
    s"""WITH $cosineCteSql, pairs AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |         ${pairSimSql("q", "c")} AS sim
       |  FROM emb q JOIN emb c ON q.vec_id < 5 AND c.vec_id <> q.vec_id
       |)
       |SELECT q_id, c_id, sim,
       |       ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rank
       |FROM pairs
       |QUALIFY rank <= 10
       |ORDER BY q_id, rank""".stripMargin

  /** All-pairs kNN join (top-3 neighbors for EVERY vector) on the native
    * CosineSimilarity expression — the codegen'd kernel keeps the whole
    * join stage compiled where the HOF formulation would interpret three
    * lambda folds per pair. */
  def embeddingKnnNative(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    // The embeddings parquet is a couple of splits; a broadcast nested-loop
    // join runs one task per STREAM-side partition, so without this the
    // whole n² pair stream (and its top-k sort) funnels through one core
    // (measured 6.3 s single-task vs ~1.5 s at 32-way). Spread the
    // candidate side across the configured parallelism first.
    val a = e.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .repartition(spark.sessionState.conf.numShufflePartitions)
    val b = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    a.crossJoin(b)
      .filter(col("c_id") =!= col("q_id"))
      // project the embeddings away BEFORE the window: the row_number
      // exchange must shuffle (q_id, c_id, sim) triples, not 2×64-float
      // payloads (measured 6.3 s -> ~1.5 s at sf0.1)
      .select(col("q_id"), col("c_id"),
        round(CosineSimilarity.of(col("q_emb"), col("c_emb")), 6).as("sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))).cast("long"))
      .filter(col("rank") <= 3)
      .select("q_id", "c_id", "sim", "rank")
      .orderBy("q_id", "rank")
  }

  val embeddingKnnNativeSql: String =
    s"""WITH $cosineCteSql, pairs AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |         ${pairSimSql("q", "c")} AS sim
       |  FROM emb q JOIN emb c ON c.vec_id <> q.vec_id
       |)
       |SELECT q_id, c_id, sim,
       |       ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rank
       |FROM pairs
       |QUALIFY rank <= 3
       |ORDER BY q_id, rank""".stripMargin

  /** Neighbor count for the [[knnLabelVote]] majority vote. */
  private val KnnVoteK = 5

  /** Leave-one-out kNN label classification over the embedding corpus —
    * each vector is classified by the majority label of its
    * [[KnnVoteK]] nearest cosine neighbors (ties: most votes, then the
    * smallest label — deterministic), and the report is per-true-label
    * accuracy: the standard embedding-quality probe ("do labels cluster
    * in this space?") run before trusting the space for dedup or
    * retrieval.
    *
    * The vote argmax is a struct-min aggregate ((−votes, label) min —
    * the `dedup_keep_best` pattern), not a window: votes per query are
    * ≤ label-vocabulary rows, and the aggregate keeps the whole vote →
    * prediction → accuracy tail in map-side-combinable shapes.
    *
    * Scale: the exact all-pairs stage is the documented brute-force
    * baseline (same candidate generation as `embedding_knn_native`); at
    * corpus scale the identical vote/report tail rides the LSH- or
    * IVF-bucketed candidate streams instead (`embedding_ann_lsh`,
    * `ivf_index_search`) — candidate generation and vote semantics are
    * deliberately orthogonal here. */
  /** The per-query (q_id, pred_label) stage of [[knnLabelVote]] —
    * factored so specs can pin individual predictions against a
    * driver-side model. */
  private[graft] def knnPredictions(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    // spread the stream side: see embeddingKnnNative (one task per
    // stream partition under a broadcast nested-loop join otherwise)
    val a = e.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .repartition(spark.sessionState.conf.numShufflePartitions)
    val b = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
      col("label").as("c_label"))
    // broadcast the CANDIDATE side explicitly: its extra label column
    // makes it the larger size estimate, and left alone Catalyst builds
    // the query side instead — streaming the pair generation over the
    // candidate parquet's 2 splits (one task per split; measured 11 s vs
    // 2 s with the 32-way repartitioned query side as the stream)
    val neighbors = a.crossJoin(broadcast(b))
      .filter(col("c_id") =!= col("q_id"))
      // project embeddings away before the rank exchange (knn lesson)
      .select(col("q_id"), col("c_id"), col("c_label"),
        round(CosineSimilarity.of(col("q_emb"), col("c_emb")), 6).as("sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))))
      .filter(col("rank") <= KnnVoteK)
    neighbors
      .groupBy(col("q_id"), col("c_label")).agg(count(lit(1)).as("votes"))
      .groupBy(col("q_id"))
      .agg(min(struct((-col("votes")).as("nv"), col("c_label").as("lbl"))).as("best"))
      .select(col("q_id"), col("best").getField("lbl").as("pred_label"))
  }

  def knnLabelVote(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    knnPredictions(spark, dir)
      .join(e.select(col("vec_id").as("q_id"), col("label")), "q_id")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(when(col("pred_label") === col("label"), 1L).otherwise(0L))
          .as("n_correct"))
      .withColumn("accuracy",
        round(col("n_correct").cast("double") / col("n_vectors"), 6))
      .orderBy("label")
  }

  val knnLabelVoteSql: String =
    s"""WITH embl AS (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS ed,
       |         list_reduce(list_prepend(0.0::DOUBLE,
       |           list_transform(embedding::DOUBLE[], x -> x * x)), (a, b) -> a + b) AS n2
       |  FROM embeddings
       |), pairs AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS c_id, c.label AS c_label,
       |         ${pairSimSql("q", "c")} AS sim
       |  FROM embl q JOIN embl c ON c.vec_id <> q.vec_id
       |), nn AS (
       |  SELECT q_id, c_label,
       |         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rank
       |  FROM pairs
       |), votes AS (
       |  SELECT q_id, c_label, count(*) AS votes
       |  FROM nn WHERE rank <= $KnnVoteK GROUP BY 1, 2
       |), pred AS (
       |  SELECT q_id, c_label AS pred_label,
       |         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY votes DESC, c_label) AS pr
       |  FROM votes
       |)
       |SELECT e.label, count(*) AS n_vectors,
       |       CAST(sum(CASE WHEN p.pred_label = e.label THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_correct,
       |       round(sum(CASE WHEN p.pred_label = e.label THEN 1 ELSE 0 END) * 1.0
       |             / count(*), 6) AS accuracy
       |FROM pred p JOIN embeddings e ON p.q_id = e.vec_id AND p.pr = 1
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** LSH planes: ±1 weights derived (at library-build time, deterministic)
    * from the md5 parity of "plane_dim" — embedded as literals in both the
    * Spark plan and the oracle SQL, so the engines share bit-identical
    * hyperplanes. */
  private val NumPlanes = 8
  private val Dim = 64
  private[llm] val planeWeights: Seq[Seq[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until NumPlanes).map { p =>
      (0 until Dim).map { d =>
        val h = md.digest(s"${p}_$d".getBytes("UTF-8"))
        if ((h(0) & 1) == 0) 1 else -1
      }
    }
  }

  /** Signed projection of `ed` (1-based element access syntax shared by
    * Spark SQL element_at and DuckDB indexing) onto a ±1 plane. */
  private def projSqlW(weights: Seq[Int], elem: Int => String): String =
    weights.zipWithIndex.map { case (w, d) =>
      val sign = if (w > 0) "+" else "-"
      s"$sign ${elem(d + 1)}"
    }.mkString("(", " ", ")")

  private def projSql(p: Int, elem: Int => String): String =
    projSqlW(planeWeights(p), elem)

  /** The same signed projection on the Spark side, as ONE native codegen'd
    * [[DotProduct]] node against a constant ±1 weight array — instead of a
    * 64-node `element_at` sum per plane. The textual-sum form blew past
    * Janino's method limits on the multi-table dedup path (8 tables × 6
    * planes, duplicated across both sides of the bucket self-join → a
    * ~13.7k-line compile unit that failed with InternalCompilerException
    * and ran interpreted at 22-29 s per execution at sf0.1); one loop node
    * per plane compiles cleanly. Bit-identical to the oracle's textual sum:
    * both accumulate doubles in ascending element order and ±1.0 multiplies
    * are exact (see [[DotProduct]] scaladoc). */
  private def projDotExpr(weights: Seq[Int]): org.apache.spark.sql.Column =
    DotProduct.of(col("ed"), array(weights.map(w => lit(w.toDouble)): _*))

  /** Random-hyperplane LSH ANN: 8-bit bucket from projection signs, then
    * top-1 cosine neighbor within the bucket (expected bucket size
    * n/256 — candidate pairs n²/256 instead of n²). Vectors alone in
    * their bucket yield no row: the recall/price of ANN. Per-pair cosine
    * runs on the native codegen'd CosineSimilarity kernel (the HOF
    * `aggregate(zip_with(...))` formulation interprets three lambda folds
    * per pair and blocks whole-stage codegen); the kernel recomputes the
    * norms inside its single compiled loop, which also lets the bucket
    * join shuffle (vec_id, ed, bucket) without a precomputed-norm column. */
  def embeddingAnnLsh(spark: SparkSession, dir: String): DataFrame = {
    // spread: bucket codes are 8 dot products per row — a single-split
    // scan would serialize them (identity at real scale, see Tables.spread)
    val e = Tables.spread(Tables.embeddings(spark, dir))
      .withColumn("ed", col("embedding").cast("array<double>"))
    val bucket = (0 until NumPlanes).map { p =>
      when(projDotExpr(planeWeights(p)) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    val b = e.select(col("vec_id"), col("ed"), bucket.as("bucket"))
    val pairs = b.as("a")
      .join(b.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("q_id"), col("b.vec_id").as("c_id"),
        col("a.bucket").as("bucket"),
        round(CosineSimilarity.of(col("a.ed"), col("b.ed")), 6).as("sim"))
    pairs
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))))
      .filter(col("rank") === 1)
      .select("q_id", "c_id", "bucket", "sim")
      .orderBy("q_id")
  }

  /** Embedding-cosine near-duplicate pairs (the dedup-family member over
    * the embedding space): all pairs with cosine ≥ 0.45 via the native
    * kernel. This corpus has no injected embedding near-dups (max pair
    * cosine ≈ 0.51), so the threshold sits just below the observed top
    * pairs to keep the surface exercised; a production run at ≥0.95 would
    * route candidates through the LSH/IVF buckets instead of all-pairs
    * (at that similarity the bucket-collision probability is high, which
    * it is not at 0.45 — hence the exact path here). */
  def embeddingCosineDedup(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val a = e.select(col("vec_id").as("doc_a"), col("embedding").as("ea"))
      .repartition(spark.sessionState.conf.numShufflePartitions)
    val b = e.select(col("vec_id").as("doc_b"), col("embedding").as("eb"))
    a.crossJoin(b)
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        CosineSimilarity.of(col("ea"), col("eb")).as("c"))
      // raw prefilter before the BigDecimal-backed round (see
      // lshDedupKernel's note) — on this O(n²) exact baseline the round
      // was paid per PAIR; identical survivors by the 1e-6 slack
      .filter(col("c") >= 0.45 - 1e-6)
      .select(col("doc_a"), col("doc_b"), round(col("c"), 6).as("cosine"))
      .filter(col("cosine") >= 0.45)
      .orderBy("doc_a", "doc_b")
  }

  val embeddingCosineDedupSql: String =
    s"""WITH $cosineCteSql
       |SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
       |       ${pairSimSql("a", "b")} AS cosine
       |FROM emb a JOIN emb b ON a.vec_id < b.vec_id
       |WHERE ${pairSimSql("a", "b")} >= 0.45
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Multi-table LSH parameters for the production-threshold near-dup
    * path: 8 independent tables of 6 hyperplanes each, drawn from the same
    * deterministic md5-parity family as [[planeWeights]] (key
    * "table_plane_dim", disjoint from the single-table family's keys). */
  private val DedupTables = 8
  private val DedupPlanes = 6
  private val DedupCosine = 0.95
  private[llm] val dedupPlaneWeights: Seq[Seq[Seq[Int]]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until DedupTables).map { t =>
      (0 until DedupPlanes).map { p =>
        (0 until Dim).map { d =>
          val h = md.digest(s"${t}_${p}_$d".getBytes("UTF-8"))
          if ((h(0) & 1) == 0) 1 else -1
        }
      }
    }
  }

  /** Embedding near-dup pairs at the production threshold (cosine ≥ 0.95)
    * routed through multi-table LSH buckets — the scaled sibling of
    * [[embeddingCosineDedup]], which stays all-pairs only because its 0.45
    * demo threshold sits below LSH's useful collision range.
    *
    * Candidate generation: each vector lands in one 6-bit bucket per
    * table (8 tables), so candidate pairs are bounded by the per-table
    * bucket self-joins (expected n²/2⁶ per table) instead of n²; at real
    * scale the bucket join shuffles on (table, bucket) exactly like the
    * single-table ANN path. Precision is exact — every candidate is
    * confirmed with the native cosine kernel before the ≥ 0.95 filter
    * (cosine is computed before the pair-dedup so the dedup exchange
    * shuffles 3-column rows, not 2×64-double payloads).
    *
    * Recall argument (the minhash-style bound): a pair at cosine exactly
    * 0.95 agrees on one hyperplane with p = 1 − acos(0.95)/π ≈ 0.8989, so
    * one 6-plane table catches it with p⁶ ≈ 0.528 and 8 independent
    * tables give 1 − (1 − 0.528)⁸ ≈ 0.9975; at 0.99 cosine the same bound
    * is ≈ 0.99998. On this corpus (max pair cosine ≈ 0.51) the entry is
    * empty on both engines by construction; SimilaritySpec drives the
    * non-empty path with synthetic near-identical vectors. */
  def embeddingLshDedup(spark: SparkSession, dir: String): DataFrame =
    embeddingLshDedupFrom(
      // spread: 8 tables × 6 planes of dot products per row serialize on a
      // single-split scan (identity at real scale, see Tables.spread)
      Tables.spread(Tables.embeddings(spark, dir))
        .select(col("vec_id"), col("embedding").cast("array<double>").as("ed")))

  /** Core kernel over a prepared (vec_id, ed: array&lt;double&gt;) frame. */
  private[llm] def embeddingLshDedupFrom(e: DataFrame): DataFrame =
    lshDedupKernel(e, DedupTables, DedupPlanes, dedupPlaneWeights)

  /** The multi-table LSH dedup body, parameterized by table/plane
    * geometry so the default (8×6) and wide (12×8,
    * [[embeddingLshDedupWide]]) configurations ride ONE definition.
    *
    * Payload-through-the-exchange is DELIBERATE (r22, closing VERDICT
    * r21 #6 with a measured negative): the "slim" variant — band
    * exchange carries (vec_id, t, bkt) only, pairs dedup before
    * confirmation, `ed` re-attached to surviving candidates from the
    * cached vector frame — was implemented and measured 5× SLOWER at
    * the 25× organic rehearsal (125k vectors: wide 31.3 s payload vs
    * 161.0 s slim, in-JVM alternated A/B, LshAbProfile: a test main at
    * commit 448c640). Mechanism: the candidate stream is the QUADRATIC term (n²·tables/2^planes random
    * collisions ≈ 7×10⁸ pairs at 125k vectors) while the band rows are
    * the LINEAR term (n·tables = 1.5M); the slim shape must shuffle the
    * quadratic stream (pair dedup + two re-attach joins) where this
    * shape confirms cosine MAP-SIDE inside the bucket join stage and
    * shuffles only the ~output-sized survivors. "Candidates ≪ band
    * rows" (the r19 crossover hypothesis) cannot hold at scale — random
    * collisions alone exceed band rows once n > tables·2^planes/ratio —
    * so carrying the payload once through the linear exchange is the
    * scale-correct trade, same verdict as the guide §8 rule read in
    * reverse: here the DECISION (cosine ≥ 0.95) needs the payload, so
    * moving the payload WITH the candidate-generating shuffle is what
    * keeps the quadratic stream off the network.
    *
    * Second negative, same A/B rig: HOISTING THE NORMS out of the
    * per-collision kernel (per-vector `sqrt(dot_product(ed, ed))`
    * before the band explode; per-pair `dot/(nrm_a·nrm_b)` with a
    * zero-denominator NULL guard — bit-identical by independent-
    * accumulator/same-fold reasoning) measured consistently SLOWER at
    * 25×: wide 18.35 → 21.69 s min, narrow 14.40 → 16.24 s min, same
    * sign every rep. The per-collision cost is NOT the 3-FMA cosine
    * loop — the join's row plumbing dominates — so trading 2 FMAs/elem
    * for an extra exchange column plus a when/divide expression loses.
    * Reverted; do not re-try either shape without new evidence. */
  private def lshDedupKernel(e: DataFrame, tables: Int, planes: Int,
                             weights: Seq[Seq[Seq[Int]]]): DataFrame = {
    val tb = explode(array((0 until tables).map { t =>
      val code = (0 until planes).map { p =>
        when(projDotExpr(weights(t)(p)) > 0, lit(1L << p)).otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(t).as("t"), code.as("bkt"))
    }: _*))
    val b = e.select(col("vec_id"), col("ed"), tb.as("tb"))
      .select(col("vec_id"), col("ed"), col("tb.t").as("t"), col("tb.bkt").as("bkt"))
    b.as("a")
      .join(b.as("b"),
        col("a.t") === col("b.t") && col("a.bkt") === col("b.bkt")
          && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("doc_a"), col("b.vec_id").as("doc_b"),
        CosineSimilarity.of(col("a.ed"), col("b.ed")).as("c"))
      // RAW prefilter before the 6dp round: Spark's round(double) goes
      // through BigDecimal.valueOf(Double.toString(x)) — a per-row string
      // format that dominated this kernel at the 25× rehearsal (jstack:
      // every worker inside FloatingDecimal under hashAgg). The 1e-6
      // slack keeps every candidate that COULD round up to the
      // threshold, so the rounded filter below sees the same survivors
      // and the output is bit-identical; the ~n²/2^planes random-pair
      // candidates never pay the BigDecimal.
      .filter(col("c") >= DedupCosine - 1e-6)
      .select(col("doc_a"), col("doc_b"), round(col("c"), 6).as("cosine"))
      .filter(col("cosine") >= DedupCosine)
      .dropDuplicates("doc_a", "doc_b") // a pair can collide in several tables
      .orderBy("doc_a", "doc_b")
  }

  /** Oracle: the all-pairs formulation at the same threshold — valid
    * because LSH only prunes candidates and the ≥ 0.9975 recall bound
    * (scaladoc above) exceeds any pair this corpus contains. */
  val embeddingLshDedupSql: String =
    s"""WITH $cosineCteSql
       |SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
       |       ${pairSimSql("a", "b")} AS cosine
       |FROM emb a JOIN emb b ON a.vec_id < b.vec_id
       |WHERE ${pairSimSql("a", "b")} >= $DedupCosine
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Wide-geometry LSH parameters — the scale configuration of the
    * near-dup path (the `simhash_dedup_wide` move applied to vector
    * LSH): 12 tables of 8 hyperplanes. Candidate volume per vector pair
    * scales with tables/2^planes — 12/256 ≈ n²/21 versus the default
    * 8/64 = n²/8, a 2.7× cut — while the recall bound at cosine 0.95
    * IMPROVES: one 8-plane table catches a 0.95-pair with
    * 0.8989⁸ ≈ 0.426, and 1 − (1 − 0.426)¹² ≈ 0.9987 > 0.9975. The
    * extra cost is 4 more map-side sign projections per vector — the
    * cheap side of the trade at any n. Weights come from the same
    * deterministic md5-parity family under a DISJOINT key prefix. */
  private val WideTables = 12
  private val WidePlanes = 8
  private[llm] val widePlaneWeights: Seq[Seq[Seq[Int]]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until WideTables).map { t =>
      (0 until WidePlanes).map { p =>
        (0 until Dim).map { d =>
          val h = md.digest(s"w${t}_${p}_$d".getBytes("UTF-8"))
          if ((h(0) & 1) == 0) 1 else -1
        }
      }
    }
  }

  /** [[embeddingLshDedup]] in the wide 12×8 geometry — identical exact
    * output (every candidate is cosine-confirmed; the all-pairs oracle
    * holds under the stronger ≥ 0.9987 bound), 2.7× fewer bucket-join
    * candidates by the geometry math.
    *
    * THE DOCUMENTED PRODUCTION DEFAULT (r19, closing the r18 verdict's
    * geometry question with the measured crossover rule rather than a
    * blanket flip): candidate volume scales n²/21 here vs n²/8 for the
    * 8×6 geometry, while the fixed per-vector cost is 1.5× the band
    * rows (96 vs 48) — so which wins is a function of n. MEASURED: at
    * 5k vectors (sf0.1) the narrow geometry is ~1.7× cheaper (1.8 s vs
    * 3.1 s — band-row constant dominates, candidates are negligible at
    * either geometry); at 50k (the 25× rehearsal) they cross into
    * parity (17.8-18.1 s vs 23.2-26.1 s, shuffle-bound); past that the
    * n²/bucket-domain term owns the cost and the wide geometry's 2.7×
    * candidate reduction AND better recall bound (0.9987 vs 0.9975 at
    * cosine 0.95) make it strictly dominant — a production corpus is
    * ALWAYS on that side of the crossover. The narrow entry stays
    * registered as the benchmark-scale configuration and cross-check
    * twin (the `simhash_dedup` → `simhash_dedup_wide` precedent). */
  def embeddingLshDedupWide(spark: SparkSession, dir: String): DataFrame =
    embeddingLshDedupWideFrom(
      Tables.spread(Tables.embeddings(spark, dir))
        .select(col("vec_id"), col("embedding").cast("array<double>").as("ed")))

  private[llm] def embeddingLshDedupWideFrom(e: DataFrame): DataFrame =
    lshDedupKernel(e, WideTables, WidePlanes, widePlaneWeights)

  /** Oracle: the same all-pairs truth — the wide geometry only prunes
    * candidates harder while confirming exactly. */
  val embeddingLshDedupWideSql: String = embeddingLshDedupSql

  /** IVF parameters: K coarse cells, nprobe probed cells per query,
    * Lloyd iterations for centroid training, and the decimal precision
    * trained centroids are rounded to.
    *
    * Centroid means accumulate as DECIMAL(28,14), not double: decimal
    * addition is exact and therefore order-independent, so Spark's
    * partial aggregation (partition-order-dependent) and DuckDB's
    * sequential sum produce the IDENTICAL sum, which both engines then
    * cast to double and divide by the count with the same IEEE ops. The
    * earlier round(avg(double), 4) formulation left a flake vector: a
    * mean within ~1 ULP of a 4dp rounding boundary could round
    * differently across engines — or across Spark RUNS, since partition
    * order varies — and cascade through Lloyd iterations into different
    * assignments. With exact accumulation the only remaining divergence
    * class is a per-value double→decimal cast landing exactly on a
    * half-way point at the 14th decimal (deterministic per value, not
    * order-dependent, and requires the double to be exactly x.5e-14 —
    * astronomically unlikely at unit scale where doubles carry ~17
    * significant digits). */
  private[llm] val IvfK = 8
  private val IvfNprobe = 2
  private val IvfIters = 2
  private val CentroidDp = 4

  /** (vec_id, ed): the embedding table with its vectors cast to double,
    * laid out by a size-derived partition count (r21, Tables.sizedSpread)
    * — the input every IVF, PQ and semantic entry starts from. */
  private def vectors(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .withColumn("ed", col("embedding").cast("array<double>"))
      .select("vec_id", "ed")
      .sizedSpread()

  /** A (cent_id, centroid) frame collected into a model value — K rows,
    * bounded by the caller's K, never by data size. */
  private[llm] def centroidModel(cents: DataFrame): IndexedSeq[(Long, Seq[Double])] =
    cents.collect().toIndexedSeq.map(r => (r.getLong(0), r.getSeq[Double](1)))

  /** The trained K-cell coarse quantizer as a value: every consumer
    * trains it inside its own call (training is deterministic — seeded
    * with the first K vectors, decimal-exact means — so the model is a
    * function of the vectors it is given, never of an earlier call). */
  private[llm] def ivfModel(e: DataFrame, k: Int): IndexedSeq[(Long, Seq[Double])] =
    centroidModel(trainCentroidsK(e, k))

  /** [[ivfModel]] at K = [[IvfK]] as a (cent_id, ced) frame — the form
    * the IVF search kernels take. */
  private def ivfModelFrame(e: DataFrame): DataFrame =
    e.sparkSession.createDataFrame(ivfModel(e, IvfK)).toDF("cent_id", "ced")

  /** Map-side argmax-cosine cell pick against a COLLECTED centroid
    * model, via the native [[graft.functions.ArgmaxCell]] kernel: the
    * whole K×[[Dim]] model rides the plan as ONE folded matrix literal
    * (plus the id array), and every row picks its cell inside a single
    * codegen'd call into the JIT-compiled assignment loop — no
    * crossJoin, no n×K-row stream, no aggregate exchange carrying the
    * 64-double `ed` payload, and (the r20 lift, VERDICT r19 #1) no
    * plan tree growing with K. Selection is bit-identical to the
    * r19 `greatest(struct(round(cosine_similarity(ed, c), 6), -id))`
    * chain it replaces (kept below as [[argmaxCellChain]] and pinned
    * equal by SimilaritySpec): per-cell similarity is the same
    * ascending-order fold rounded HALF_UP to 6dp, the scan keeps the
    * FIRST maximum over ids ascending — so ties resolve to the lowest
    * cent_id exactly like `max_by(cent_id, struct(csim, -cent_id))`
    * and the oracle's `ORDER BY csim DESC, cent_id` window.
    *
    * History: assignment was a crossJoin(broadcast(cents)) + max_by
    * hash aggregate until r19 (measured at K=256/200k vectors: 171 s
    * train+assign, 51.2M ed-carrying rows per Lloyd pass), then the
    * greatest-over-K-struct-columns literal fold (4.9 s at the same
    * geometry — but K×Dim literals and a K-arm greatest put a
    * compile-time plan/codegen ceiling at K ~ hundreds, far below the
    * K ~ 10⁵ the published SemDeDup-scale pipelines run; SCALE.md
    * "The argmax fold"). The native kernel keeps the 4.9 s shape with
    * an O(1)-in-K plan — the K=4096 probe that did not compile under
    * the chain runs through it (SCALE.md r20). */
  private[llm] def argmaxCellLit(e: DataFrame,
      cents: IndexedSeq[(Long, Seq[Double])]): DataFrame = {
    require(cents.nonEmpty,
      "argmax cell assignment requires a non-empty centroid model")
    val sorted = cents.sortBy(_._1)
    e.select(col("vec_id"), col("ed"),
      ArgmaxCell.of(col("ed"),
        typedlit(sorted.map(_._1).toSeq),
        typedlit(sorted.map(_._2.toSeq).toSeq)).as("cell"))
  }

  /** The r19 greatest-chain spelling of [[argmaxCellLit]], retained as
    * the EQUALITY WITNESS: SimilaritySpec proves the native kernel
    * assigns bit-identically on a planted fixture and on generated
    * K=256 data. Not on any production path — its plan carries K×Dim
    * literals and a K-arm greatest, the compile-time ceiling the
    * native kernel lifts. */
  private[llm] def argmaxCellChain(e: DataFrame,
      cents: IndexedSeq[(Long, Seq[Double])]): DataFrame = {
    // one struct(csim, -cent_id) COLUMN per centroid, each a direct
    // call into the native codegen'd kernel against a constant-folded
    // 64-double array literal — NOT a SQL higher-order function, which
    // would evaluate the lambda interpreted per element and forfeit
    // codegen (measured: the HOF spelling was 1.3× SLOWER than the
    // crossJoin it replaced)
    val packed = cents.sortBy(_._1).map { case (id, ced) =>
      struct(
        round(CosineSimilarity.of(col("ed"), array(ced.map(lit): _*)), 6)
          .as("csim"),
        lit(-id).as("nid"))
    }
    val best =
      if (packed.size == 1) packed.head
      else greatest(packed: _*) // struct order: csim, then -cent_id
    e.select(col("vec_id"), col("ed"),
      (-best.getField("nid")).as("cell"))
  }

  /** Deterministic k-means coarse quantizer of K cells: seeds = the
    * first K vectors, then [[IvfIters]] Lloyd iterations of (assign
    * every vector to its max-cosine centroid with a cent_id tie-break,
    * recompute each centroid as the per-dimension mean rounded to
    * [[CentroidDp]] decimals). Cells that lose all members drop out
    * identically on both engines. K is the dial the semantic-dedup scale
    * story turns (K ∝ n/target-cell; the SCALE.md 100× rehearsal trains
    * K=256 over 200k vectors); the IVF entries train at the
    * compile-time [[IvfK]] so the unrolled oracle chain mirrors them
    * exactly.
    *
    * Each Lloyd round collects the K-row centroid frame (a bounded
    * MODEL — K is the caller's dial, never data-sized; the same class as
    * the [[ivfModel]] collect) and assigns cells with the map-side
    * [[argmaxCellLit]] fold, so a round's corpus pass is one projection
    * + the K×Dim means aggregate — no driver-side loops over data, only
    * over the K-row centroid frame between iterations. The
    * crossJoin+argmax-aggregate formulation this replaces streamed n×K
    * ed-carrying rows per round. */
  private[llm] def trainCentroidsK(e: DataFrame, k: Int): DataFrame = {
    var cents = e.filter(col("vec_id") < k)
      .select(col("vec_id").as("cent_id"), col("ed").as("ced"))
    for (_ <- 1 to IvfIters) {
      val assigned = argmaxCellLit(e, centroidModel(cents))
        .select(col("vec_id"), col("ed"), col("cell").as("cent_id"))
      // per-dimension decimal-exact mean via explode + narrow groupBy —
      // NOT 64 separate sum columns: that generates a 64-accumulator
      // aggregate class (heavy codegen per Lloyd iteration) where this
      // shape is one 2-column sum over K×Dim groups (512 at K=8), with
      // map-side partials collapsing each partition to ≤512 rows before
      // the shuffle. Same math: decimal addition is exact and
      // order-independent, so the per-(cent, dim) sums are bit-identical
      // to the wide-column formulation and to the oracle's
      val means = assigned
        .select(col("cent_id"), posexplode(col("ed")).as(Seq("d", "v")))
        .groupBy("cent_id", "d")
        .agg(round(sum(col("v").cast("decimal(28,14)")).cast("double")
          / count(lit(1)), CentroidDp).as("m"))
      cents = means.groupBy("cent_id")
        .agg(array_sort(collect_list(struct(col("d"), col("m")))).as("dm"))
        .select(col("cent_id"), col("dm.m").as("ced"))
    }
    cents
  }

  /** IVF-bucketed ANN: a trained coarse quantizer of K cells
    * ([[trainCentroidsK]] — deterministic k-means, seeded with the
    * first K vectors, centroids shared with the oracle through the
    * mirrored SQL formulation rather than literals), every vector
    * assigned to its max-cosine cell, queries probing their nprobe best
    * cells and searching top-3 only among the probed cells' members.
    * Cell assignment is K small cosines per vector (centroids
    * broadcast); the search never touches vectors outside the probed
    * cells — candidates shrink from n to ~n·nprobe/K. */
  def embeddingAnnIvf(spark: SparkSession, dir: String): DataFrame = {
    // the vector table feeds training (once per Lloyd iteration), cell
    // assignment, and the candidate join — cache it once
    val e = vectors(spark, dir).scratchCache()
    // The trained quantizer is a MODEL of K ≤ 8 rows (bounded by the
    // compile-time constant, never by data size): train it, collect it,
    // and re-plan the search against literal centroids, cutting the
    // 2-Lloyd-iteration lineage out of every downstream plan. The full
    // lifecycle (persist + bucketed layout) is ivfIndexSearch; this
    // entry keeps the query-side semantics for the shared oracle.
    ivfSearchFrom(e, ivfModelFrame(e), 100L, 105L)
  }

  /** The assignment+probe+search phase of IVF ANN against an already
    * trained quantizer, over query ids in `[qLo, qHi)` — shared by
    * [[embeddingAnnIvf]] and the planted-fixture recall spec (which
    * drives it with a clustered corpus where ground-truth neighbors are
    * known by construction). */
  private[llm] def ivfSearchFrom(e: DataFrame, cents: DataFrame,
      qLo: Long, qHi: Long): DataFrame = {
    // full-corpus assignment: the map-side argmax fold over the
    // collected K-row model — one codegen'd projection, no n×K
    // ed-carrying stream (see argmaxCellLit)
    val assign = argmaxCellLit(e, centroidModel(cents))
    // probe ranking needs top-nprobe (not argmax) but only for the few
    // query vectors — filter FIRST, then window over |queries|×K rows
    val probes = e
      .filter(col("vec_id") >= qLo && col("vec_id") < qHi)
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("ed"), col("cent_id"),
        round(CosineSimilarity.of(col("ed"), col("ced")), 6).as("csim"))
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("cent_id"))))
      .filter(col("crank") <= IvfNprobe)
      .select(col("vec_id").as("q_id"), col("ed").as("qed"), col("cent_id").as("cell"))
    probes
      .join(assign, Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("c_id"),
        round(CosineSimilarity.of(col("qed"), col("ed")), 6).as("sim"))
      .dropDuplicates("q_id", "c_id") // a candidate can sit in both probed cells
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))).cast("long"))
      .filter(col("rank") <= 3)
      .select("q_id", "c_id", "sim", "rank")
      .orderBy("q_id", "rank")
  }

  /** The k-means training chain, unrolled once per Lloyd iteration (the
    * CTE text is generated by the same loop bounds the Spark side uses,
    * so engine and oracle can never drift on K / iterations / rounding).
    * Each cents_i exposes (cent_id, ed, n2) so [[pairSimSql]] applies to
    * centroids exactly as it does to data vectors. */
  private def kmeansCteSql: String = kmeansCteSqlFor(IvfK)

  /** The chain at an explicit cluster count — the K dial's oracle side
    * (`semantic_dedup_k64` trains K=[[SemWideK]] through the same
    * generator, so the dial variant can never drift from the bench
    * geometry on iterations / rounding / tie-breaks). */
  private def kmeansCteSqlFor(k: Int): String = kmeansCteSqlExpr(k.toString)

  /** The chain with the cluster count as an arbitrary SQL expression —
    * the data-driven dial's oracle side: `semantic_dedup_auto` derives
    * K from a corpus-count scalar subquery, and only the seed CTE's
    * `vec_id < K` predicate ever mentions K, so the same generator
    * serves literal and derived counts. */
  private def kmeansCteSqlExpr(kExpr: String): String = {
    val n2OfEd =
      """list_reduce(list_prepend(0.0::DOUBLE,
        |           list_transform(ed, x -> x * x)), (a, b) -> a + b)""".stripMargin
    // decimal-exact mean, mirroring the Spark side (see the IVF-parameter
    // scaladoc): exact order-independent DECIMAL sum, then the same
    // cast-to-double + divide + round on both engines
    val avgList = (0 until Dim)
      .map(d => s"round(CAST(sum(CAST(ed[${d + 1}] AS DECIMAL(28,14))) AS DOUBLE)" +
        s" / count(*), $CentroidDp)").mkString("[", ", ", "]")
    val sb = new StringBuilder(
      s"""cents0 AS (
         |  SELECT vec_id AS cent_id, ed, n2 FROM emb WHERE vec_id < ($kExpr)
         |)""".stripMargin)
    for (i <- 1 to IvfIters) {
      sb.append(s""", assign$i AS (
         |  SELECT vec_id, ed, cent_id FROM (
         |    SELECT e.vec_id, e.ed, c.cent_id,
         |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${pairSimSql("e", "c")} DESC, c.cent_id) AS crank
         |    FROM emb e CROSS JOIN cents${i - 1} c)
         |  WHERE crank = 1
         |), cents$i AS (
         |  SELECT cent_id, ed, $n2OfEd AS n2
         |  FROM (SELECT cent_id, $avgList AS ed FROM assign$i GROUP BY cent_id)
         |)""".stripMargin)
    }
    sb.toString
  }

  val embeddingAnnIvfSql: String =
    s"""WITH $cosineCteSql, $kmeansCteSql, ranked AS (
       |  SELECT e.vec_id, c.cent_id,
       |         ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |           ORDER BY ${pairSimSql("e", "c")} DESC, c.cent_id) AS crank
       |  FROM emb e CROSS JOIN cents$IvfIters c
       |), assign AS (
       |  SELECT vec_id, cent_id AS cell FROM ranked WHERE crank = 1
       |), probes AS (
       |  SELECT vec_id AS q_id, cent_id AS cell FROM ranked
       |  WHERE vec_id >= 100 AND vec_id < 105 AND crank <= $IvfNprobe
       |), cand AS (
       |  SELECT DISTINCT p.q_id, a.vec_id AS c_id
       |  FROM probes p JOIN assign a USING (cell)
       |  WHERE a.vec_id <> p.q_id
       |)
       |SELECT q_id, c_id, sim,
       |       ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rank
       |FROM (
       |  SELECT cand.q_id, cand.c_id, ${pairSimSql("q", "c")} AS sim
       |  FROM cand
       |  JOIN emb q ON q.vec_id = cand.q_id
       |  JOIN emb c ON c.vec_id = cand.c_id
       |)
       |QUALIFY rank <= 3
       |ORDER BY q_id, rank""".stripMargin

  val embeddingAnnLshSql: String = {
    val bucketExpr = (0 until NumPlanes).map { p =>
      s"(CASE WHEN ${projSql(p, i => s"ed[$i]")} > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH $cosineCteSql, bucketed AS (
       |  SELECT vec_id, ed, n2, CAST($bucketExpr AS BIGINT) AS bucket FROM emb
       |), pairs AS (
       |  SELECT a.vec_id AS q_id, b.vec_id AS c_id, a.bucket AS bucket,
       |         ${pairSimSql("a", "b")} AS sim
       |  FROM bucketed a JOIN bucketed b
       |    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
       |)
       |SELECT q_id, c_id, bucket, sim
       |FROM (SELECT pairs.*,
       |             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rn
       |      FROM pairs)
       |WHERE rn = 1
       |ORDER BY q_id""".stripMargin
  }

  /** IVF index LIFECYCLE entry — the 100 TB shape the inline
    * [[embeddingAnnIvf]] deliberately does not model: training runs once
    * as an INDEX BUILD and persists its artifacts (the K-row centroid
    * table and the per-vector cell assignment, bucketed by cell); the
    * search phase reads ONLY those tables. At scale a new query batch
    * never touches the training chain, and the bucketed assignment layout
    * pre-pays the candidate join's shuffle on `cell` the same way
    * [[graft.sources.Layout.bucketedJoin]] pre-pays its order-key shuffle.
    * Search: query vectors rank the persisted centroids (K ≤ 8 rows,
    * broadcast), probe their nprobe best cells, and score only the probed
    * cells' members. Results are identical to [[embeddingAnnIvf]] — same
    * centroids (exact through the parquet double round-trip), same 6dp
    * rounding, same tie-breaks — so the entry shares its oracle SQL.
    *
    * MEASUREMENT caveat: as a registered entry this re-runs build+search
    * per execution (it drops and rewrites its fixed-name managed tables),
    * so the bench number is the whole lifecycle cost, centroid training
    * included — NOT the amortized per-query search this design buys at
    * scale. The fixed table names also mean two drivers sharing a
    * warehouse dir would clobber each other; the entries are
    * single-driver by design (the driver gate and bench run serially). */
  def ivfIndexSearch(spark: SparkSession, dir: String): DataFrame = {
    // ---- index build: once per corpus, not per query ----
    Layout.dropManagedTable(spark, "graft_ivf_centroids")
    Layout.dropManagedTable(spark, "graft_ivf_assign")
    val e = vectors(spark, dir).scratchCache()
    ivfModelFrame(e)
      .write.mode("overwrite")
      .saveAsTable("graft_ivf_centroids")
    // the table holds exactly ≤ IvfK rows by construction, but read back
    // from parquet that bound is invisible to plan-level screens — the
    // limit(IvfK) is a value-level no-op that makes the K-row cap
    // STRUCTURAL (a GlobalLimit the registry lint's bounded-side check
    // sees), so the broadcast cross joins below are provably not
    // quadratic (VERDICT r15 #2)
    val cents = spark.table("graft_ivf_centroids").limit(IvfK)
    argmaxCellLit(e, centroidModel(cents))
      .write.bucketBy(8, "cell").mode("overwrite")
      .saveAsTable("graft_ivf_assign")
    // ---- search: reads ONLY the persisted artifacts ----
    val assign = spark.table("graft_ivf_assign")
    val probes = assign
      .filter(col("vec_id") >= 100 && col("vec_id") < 105)
      .select(col("vec_id").as("q_id"), col("ed").as("qed"))
      .crossJoin(broadcast(cents))
      .select(col("q_id"), col("qed"), col("cent_id"),
        round(CosineSimilarity.of(col("qed"), col("ced")), 6).as("csim"))
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("csim").desc, col("cent_id"))))
      .filter(col("crank") <= IvfNprobe)
      .select(col("q_id"), col("qed"), col("cent_id").as("cell"))
    probes
      .join(assign, Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("c_id"),
        round(CosineSimilarity.of(col("qed"), col("ed")), 6).as("sim"))
      .dropDuplicates("q_id", "c_id") // a candidate can sit in both probed cells
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))).cast("long"))
      .filter(col("rank") <= 3)
      .select("q_id", "c_id", "sim", "rank")
      .orderBy("q_id", "rank")
  }

  /** Same result set as [[embeddingAnnIvf]] — the lifecycle differs, the
    * math does not. */
  val ivfIndexSearchSql: String = embeddingAnnIvfSql

  /** LSH bucket-table LIFECYCLE entry — persists the 8-bit bucket codes
    * of [[embeddingAnnLsh]] as a table bucketed (and sorted) on `bucket`,
    * then runs the in-bucket top-1 search reading only that table. The
    * self-join on `bucket` is then EXCHANGE-FREE (both sides are the same
    * bucketed table — pinned by SimilaritySpec): the code computation and
    * its shuffle are paid once at index-build time and amortized over
    * every subsequent dedup/ANN scan, the same pay-at-write story as
    * [[graft.sources.Layout.bucketedJoin]]. Results are identical to
    * [[embeddingAnnLsh]], so the entry shares its oracle SQL.
    *
    * MEASUREMENT caveat (same as [[ivfIndexSearch]]): per execution the
    * entry drops and rewrites its fixed-name bucket table, so the bench
    * number is build+search, write-dominated — not the amortized
    * exchange-free search; and the fixed name makes the entry
    * single-driver by design. */
  def lshIndexSearch(spark: SparkSession, dir: String): DataFrame = {
    // ---- index build ----
    Layout.dropManagedTable(spark, "graft_lsh_buckets")
    val e = Tables.embeddings(spark, dir)
      .withColumn("ed", col("embedding").cast("array<double>"))
    val bucket = (0 until NumPlanes).map { p =>
      when(projDotExpr(planeWeights(p)) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    e.select(col("vec_id"), col("ed"), bucket.as("bucket"))
      .write.bucketBy(8, "bucket").sortBy("bucket")
      .mode("overwrite").saveAsTable("graft_lsh_buckets")
    // ---- search: bucket-colocated self-join, no exchange ----
    val b = spark.table("graft_lsh_buckets")
    b.as("a")
      .join(b.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("q_id"), col("b.vec_id").as("c_id"),
        col("a.bucket").as("bucket"),
        round(CosineSimilarity.of(col("a.ed"), col("b.ed")), 6).as("sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))))
      .filter(col("rank") === 1)
      .select("q_id", "c_id", "bucket", "sim")
      .orderBy("q_id")
  }

  /** Same result set as [[embeddingAnnLsh]] — bucket layout must never
    * change results. */
  val lshIndexSearchSql: String = embeddingAnnLshSql

  /** Int8 scalar QUANTIZATION of the embedding column — the storage-side
    * scale lever for similarity search: a 64-dim float32 vector is 256
    * bytes; its per-vector min/max int8 codes are 64 bytes + two floats,
    * a 4× shrink on the dominant column of a 100 TB embedding corpus
    * (and the format IVF/LSH candidate scoring reads before an exact
    * re-rank on the float originals of the short candidate list).
    * Encoding: code = floor((x - min) · 255 / (max - min)) per element —
    * floor, not round, so both engines' IEEE doubles hit identical codes
    * with no tie-break ambiguity; constant vectors (max = min) map to
    * code 0. Pure per-row dataflow (array HOFs, no shuffle beyond the
    * presentation sort); reconstruction error < 1 quantization step per
    * element and recall preservation are pinned in SimilaritySpec. The
    * entry emits per-vector code descriptors (min/max/sum) rather than
    * the code arrays — the oracle hash-compares scalar columns. */
  def embeddingQuantize(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .withColumn("ed", col("embedding").cast("array<double>"))
    val mn = array_min(col("ed"))
    val mx = array_max(col("ed"))
    val codes = transform(col("ed"), x =>
      when(mx === mn, lit(0))
        .otherwise(floor((x - mn) * lit(255.0) / (mx - mn)).cast("int")))
    e.select(col("vec_id"), codes.as("codes"),
        round(mn, 6).as("q_lo"), round(mx, 6).as("q_hi"))
      .select(col("vec_id"), col("q_lo"), col("q_hi"),
        array_min(col("codes")).as("code_min"),
        array_max(col("codes")).as("code_max"),
        aggregate(col("codes"), lit(0L), (acc, c) => acc + c).as("code_sum"))
      .orderBy("vec_id")
  }

  val embeddingQuantizeSql: String =
    """WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS ed FROM embeddings
      |), q AS (
      |  SELECT vec_id,
      |         list_min(ed) AS mn, list_max(ed) AS mx,
      |         list_transform(ed, x -> CASE WHEN list_max(ed) = list_min(ed) THEN 0
      |           ELSE CAST(floor((x - list_min(ed)) * 255.0 / (list_max(ed) - list_min(ed))) AS INT) END) AS codes
      |  FROM e
      |)
      |SELECT vec_id, round(mn, 6) AS q_lo, round(mx, 6) AS q_hi,
      |       list_min(codes) AS code_min, list_max(codes) AS code_max,
      |       CAST(list_sum(codes) AS BIGINT) AS code_sum
      |FROM q ORDER BY vec_id""".stripMargin

  /** Per-label embedding centroids, one row per (label, dimension) — the
    * drift-monitoring / cluster-seeding aggregate an embedding store
    * maintains: compare today's centroids to last week's and a shifted
    * encoder or corpus shows up as centroid movement long before any
    * downstream metric does.
    *
    * Scale shape: posexplode to (label, dim, value) and ONE hash
    * aggregate keyed on (label, dim) — partial sums collapse map-side,
    * state is #labels × dims counters, and no task ever materializes a
    * group's vectors. Determinism: per-component values are rounded to
    * 6dp and summed as DECIMAL (same discipline as `unigram_surprise`),
    * so partial-aggregation order cannot change a centroid; the mean
    * divides in double and rounds to 6dp on both engines. Emitting
    * dimension ROWS (not a reassembled array) keeps the result a plain
    * aggregate — the consumer pivots to vectors if it wants them. */
  def embeddingCentroids(spark: SparkSession, dir: String): DataFrame = {
    // spread: per-row vector explode serializes on a single-split scan
    // (identity at real scale, see Tables.spread)
    val ex = Tables.spread(Tables.embeddings(spark, dir))
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("label"), col("pos").cast("long").as("pos"),
        round(col("v").cast("double"), 6).cast("decimal(18,6)").as("val"))
    // round via the explicit *1e6 sequence ON BOTH ENGINES: Spark's
    // round(x, 6) rounds x's exact decimal expansion while DuckDB scales
    // by 10^6 in floating point first — on a 6th-decimal boundary value
    // they disagree (sf0.1 exposed one; see SCALE.md sf0.1 oracle pass)
    ex.groupBy("label", "pos")
      .agg(count(lit(1)).as("n_vecs"),
        (round(sum(col("val")).cast("double") / count(lit(1)) * lit(1e6)) / lit(1e6))
          .as("mean"))
      .orderBy("label", "pos")
  }

  val embeddingCentroidsSql: String =
    """WITH ex AS (
      |  SELECT label, unnest(range(0, len(embedding))) AS pos, embedding AS emb
      |  FROM embeddings
      |), v AS (
      |  SELECT label, pos,
      |         CAST(round(CAST(emb[CAST(pos AS INT) + 1] AS DOUBLE), 6)
      |              AS DECIMAL(18,6)) AS val
      |  FROM ex
      |)
      |SELECT label, pos, count(*) AS n_vecs,
      |       round(CAST(sum(val) AS DOUBLE) / count(*) * 1000000) / 1000000 AS mean
      |FROM v GROUP BY label, pos ORDER BY label, pos""".stripMargin

  /** Per-dimension standardization statistics over the whole embedding
    * table — mean, sample std, min, max for every vector component: the
    * profile a whitening / feature-scaling pass (or an index-builder
    * deciding per-dimension quantization ranges) computes before
    * touching the vectors. Complements [[embeddingCentroids]] (per-label
    * first moment) with the global second moment.
    *
    * Scale shape: posexplode to (dim, value) and ONE hash aggregate
    * keyed on dim — state is `dims` counter rows regardless of corpus
    * size, partials collapse map-side. Determinism: components round to
    * 6dp and both moments sum as DECIMAL (order-independent, same
    * discipline as [[embeddingCentroids]]); the variance/sqrt is then
    * pure double arithmetic over identical decimal sums on both
    * engines. */
  def embeddingDimStats(spark: SparkSession, dir: String): DataFrame = {
    // spread: per-row vector explode serializes on a single-split scan
    // (identity at real scale, see Tables.spread)
    val ex = Tables.spread(Tables.embeddings(spark, dir))
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("pos").cast("long").as("pos"),
        round(col("v").cast("double"), 6).cast("decimal(18,6)").as("val"))
    ex.groupBy("pos")
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("val")).as("sx"),
        sum(col("val") * col("val")).as("sxx"),
        min(col("val")).as("mn"), max(col("val")).as("mx"))
      .select(col("pos"), col("n_vecs"),
        round(col("sx").cast("double") / col("n_vecs"), 6).as("mean"),
        round(sqrt(
          (col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double") / col("n_vecs")) /
            (col("n_vecs") - 1)), 6).as("std"),
        col("mn").cast("double").as("min_v"),
        col("mx").cast("double").as("max_v"))
      .orderBy("pos")
  }

  val embeddingDimStatsSql: String =
    """WITH ex AS (
      |  SELECT unnest(range(0, len(embedding))) AS pos, embedding AS emb
      |  FROM embeddings
      |), v AS (
      |  SELECT pos,
      |         CAST(round(CAST(emb[CAST(pos AS INT) + 1] AS DOUBLE), 6)
      |              AS DECIMAL(18,6)) AS val
      |  FROM ex
      |), a AS (
      |  SELECT pos, count(*) AS n_vecs, sum(val) AS sx, sum(val * val) AS sxx,
      |         min(val) AS mn, max(val) AS mx
      |  FROM v GROUP BY pos
      |)
      |SELECT pos, n_vecs,
      |       round(CAST(sx AS DOUBLE) / n_vecs, 6) AS mean,
      |       round(sqrt((CAST(sxx AS DOUBLE)
      |                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n_vecs)
      |                  / (n_vecs - 1)), 6) AS std,
      |       CAST(mn AS DOUBLE) AS min_v,
      |       CAST(mx AS DOUBLE) AS max_v
      |FROM a ORDER BY pos""".stripMargin

  /** Norm-bucket width for [[embeddingNormAudit]] (0.1) and the unit-norm
    * tolerance (|norm − 1| ≤ 0.01) — audit config literals. */
  private val NormBucket = 0.1
  private val UnitTol = 0.01

  /** Embedding L2-norm audit — the sanity check a vector store runs at
    * ingest: cosine retrieval assumes unit-normalized vectors, so the
    * audit histograms the corpus's L2 norms in 0.1-wide buckets and
    * counts how many vectors sit within the unit tolerance. A healthy
    * normalized corpus is one bucket with n_unit == n_vecs; anything
    * else is the red flag that some producer skipped normalization.
    *
    * Scale shape: the norm is an IN-ROW left-to-right fold over each
    * vector (no explode, no shuffle of components — the per-vector twin
    * of [[embeddingDimStats]]'s per-dimension pass); everything then
    * collapses map-side into ≤ a few dozen bucket counters.
    *
    * Determinism: both engines fold float components cast to double in
    * array order — the identical IEEE add/mul sequence, so the norms are
    * bit-equal before the single 6dp round. Bucket edges land on 0.1
    * multiples of ROUNDED norms (a 6dp-rounded value cannot straddle an
    * 0.1 edge differently across engines when the pre-round values are
    * bit-equal). */
  def embeddingNormAudit(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.spread(Tables.embeddings(spark, dir))
      .withColumn("l2", round(sqrt(expr(
        """aggregate(embedding, CAST(0.0 AS DOUBLE),
          |          (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))""".stripMargin)), 6))
    e.select(floor(col("l2") / NormBucket).cast("long").as("bucket"), col("l2"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(abs(col("l2") - 1.0) <= UnitTol, 1L).otherwise(0L)).as("n_unit"),
        round(min(col("l2")), 6).as("min_norm"),
        round(max(col("l2")), 6).as("max_norm"))
      .withColumn("norm_lo", round(col("bucket") * NormBucket, 1))
      .select("bucket", "norm_lo", "n_vecs", "n_unit", "min_norm", "max_norm")
      .orderBy("bucket")
  }

  val embeddingNormAuditSql: String =
    s"""WITH e AS (
       |  SELECT round(sqrt(list_reduce(
       |           list_prepend(0.0::DOUBLE,
       |             list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)),
       |           (a, b) -> a + b)), 6) AS l2
       |  FROM embeddings
       |), b AS (
       |  SELECT CAST(floor(l2 / $NormBucket) AS BIGINT) AS bucket, l2 FROM e
       |)
       |SELECT bucket, round(bucket * $NormBucket, 1) AS norm_lo,
       |       count(*) AS n_vecs,
       |       CAST(sum(CASE WHEN abs(l2 - 1.0) <= $UnitTol THEN 1 ELSE 0 END) AS BIGINT) AS n_unit,
       |       round(min(l2), 6) AS min_norm, round(max(l2), 6) AS max_norm
       |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin

  /** Max per-dimension |z| for a vector to be reported an outlier. */
  private val OutlierZ = 3.0

  /** Embedding outlier audit — vectors whose worst per-dimension z-score
    * crosses [[OutlierZ]] against the corpus's dimension statistics: the
    * vector-store ingest check that catches corrupted encodes, scale
    * bugs, and genuine distributional strays BEFORE they poison an ANN
    * index ([[embeddingNormAudit]] catches norm drift; this catches
    * per-axis drift a correct norm can hide).
    *
    * Shape at 100 TB: dimension moments collapse map-side over the
    * component stream into a DIMENSIONALITY-sized frame (the
    * `embedding_dim_stats` decimal-moment discipline — 6dp-rounded
    * components, decimal sums, so mean/std are engine-identical), which
    * then broadcasts back to the component stream; the per-vector max/
    * count collapse is one vec-keyed aggregate. Both stats are rounded
    * to 6dp BEFORE the z division, so the z doubles — and the threshold
    * boundary — are bit-identical cross-engine. */
  def embeddingOutliers(spark: SparkSession, dir: String): DataFrame = {
    val ex = Tables.spread(Tables.embeddings(spark, dir))
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("vec_id"), col("pos").cast("long").as("pos"),
        round(col("v").cast("double"), 6).cast("decimal(18,6)").as("val"))
    val stats = ex.groupBy("pos")
      .agg(count(lit(1)).as("n"), sum(col("val")).as("sx"),
        sum(col("val") * col("val")).as("sxx"))
      .select(col("pos"),
        round(col("sx").cast("double") / col("n"), 6).as("mean"),
        round(sqrt((col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double") / col("n")) /
          (col("n") - 1)), 6).as("std"))
    val z = abs((col("val").cast("double") - col("mean")) / col("std"))
    ex.join(broadcast(stats), "pos")
      .groupBy("vec_id")
      .agg(round(max(z), 4).as("max_absz"),
        sum(when(z > OutlierZ, 1L).otherwise(0L)).as("n_extreme_dims"))
      .filter(col("max_absz") >= OutlierZ)
      .orderBy("vec_id")
  }

  val embeddingOutliersSql: String =
    s"""WITH ex AS (
       |  SELECT vec_id, unnest(range(0, len(embedding))) AS pos,
       |         embedding AS emb
       |  FROM embeddings
       |), v AS (
       |  SELECT vec_id, pos,
       |         CAST(round(CAST(emb[CAST(pos AS INT) + 1] AS DOUBLE), 6)
       |              AS DECIMAL(18,6)) AS val
       |  FROM ex
       |), a AS (
       |  SELECT pos, count(*) AS n, sum(val) AS sx, sum(val * val) AS sxx
       |  FROM v GROUP BY 1
       |), s AS (
       |  SELECT pos, round(CAST(sx AS DOUBLE) / n, 6) AS mean,
       |         round(sqrt((CAST(sxx AS DOUBLE)
       |                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
       |                    / (n - 1)), 6) AS std
       |  FROM a
       |), z AS (
       |  SELECT vec_id,
       |         round(max(abs((CAST(val AS DOUBLE) - mean) / std)), 4)
       |           AS max_absz,
       |         CAST(sum(CASE WHEN abs((CAST(val AS DOUBLE) - mean) / std)
       |                            > $OutlierZ
       |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme_dims
       |  FROM v JOIN s USING (pos) GROUP BY 1
       |)
       |SELECT vec_id, max_absz, n_extreme_dims
       |FROM z WHERE max_absz >= $OutlierZ
       |ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------------
  // Product quantization (PQ)
  // ---------------------------------------------------------------------

  /** PQ geometry: [[Dim]]=64 dims split into [[PqM]] subspaces of
    * [[PqSubDim]] dims, each with its own [[PqK]]-centroid codebook
    * trained by [[PqIters]] Lloyd iterations (same seeding/rounding
    * discipline as the IVF coarse quantizer). A vector encodes as M
    * codes of log2(K) bits — here 4×2 bits vs 64×4 bytes, a 256×
    * compression of the vector payload (the codebooks are M·K·SubDim
    * constants). */
  private val PqM = 4
  private val PqSubDim = Dim / PqM
  private val PqK = 4
  private val PqIters = 2

  /** Rounded squared-L2 between the equal-length double arrays `sub` and
    * `ced` (a subvector and a codebook centroid), on the
    * native codegen'd [[graft.functions.SquaredL2]] kernel — an
    * ascending-index (x−y)² fold, the exact order DuckDB's list_reduce
    * walks, so both engines produce bit-identical distances (the cosine
    * kernel's determinism stance applied to L2). 6dp rounding before
    * any argmin keeps ties engine-stable.
    *
    * (History: this was the `aggregate(zip_with(...))` SQL HOF until
    * r19 — a lambda that evaluates INTERPRETED per element, sitting on
    * the PQ family's hottest loops (encode = n·M·K evaluations, ADC =
    * per candidate per subspace). The r19 HOF finding, SCALE.md:
    * native-in-lambda forfeits codegen; this kernel keeps the pass
    * compiled. Output bit-identical — 242/242 oracle-green unchanged.) */
  private def subL2: org.apache.spark.sql.Column =
    round(SquaredL2.of(col("sub"), col("ced")), 6)

  /** Per-subspace subvectors: (vec_id, m, sub) — one row per vector per
    * subspace, sliced in-row (no shuffle). */
  private def pqSubvectors(e: DataFrame): DataFrame =
    e.select(col("vec_id"), posexplode(expr(
        s"transform(sequence(0, ${PqM - 1}), m -> slice(ed, m * $PqSubDim + 1, $PqSubDim))"))
        .as(Seq("m", "sub")))

  /** Trains the M per-subspace codebooks in ONE distributed job (the
    * subspace id rides as a grouping column — M separate k-means runs
    * would scan the corpus M times): seeds are the first K vectors'
    * subvectors, assignment is rounded-L2 argmin with cent_id tiebreak,
    * means are decimal-exact per (m, cent, dim) and rounded to
    * [[CentroidDp]] — bit-identical to the oracle's unrolled CTEs. */
  /** The untrained seed codebooks (the first K vectors' subvectors) —
    * training's starting point, exposed so the spec can prove the Lloyd
    * iterations actually reduce distortion below it. */
  private[llm] def seedPqCodebooks(e: DataFrame): DataFrame =
    pqSubvectors(e).filter(col("vec_id") < PqK)
      .select(col("m"), col("vec_id").as("cent_id"), col("sub").as("ced"))

  private[llm] def trainPqCodebooks(e: DataFrame): DataFrame = {
    val subs = pqSubvectors(e).scratchCache()
    var cents = seedPqCodebooks(e)
    for (_ <- 1 to PqIters) {
      val assigned = subs.join(broadcast(cents), Seq("m"))
        .withColumn("d2", subL2)
        .groupBy("vec_id", "m")
        .agg(min_by(struct(col("cent_id"), col("sub")),
          struct(col("d2"), col("cent_id"))).as("best"))
        .select(col("m"), col("best.cent_id").as("cent_id"), col("best.sub").as("sub"))
      val means = assigned
        .select(col("m"), col("cent_id"), posexplode(col("sub")).as(Seq("d", "v")))
        .groupBy("m", "cent_id", "d")
        .agg(round(sum(col("v").cast("decimal(28,14)")).cast("double")
          / count(lit(1)), CentroidDp).as("mv"))
      cents = means.groupBy("m", "cent_id")
        .agg(array_sort(collect_list(struct(col("d"), col("mv")))).as("dm"))
        .select(col("m"), col("cent_id"), col("dm.mv").as("ced"))
    }
    cents
  }

  /** The trained M·K ≤ 16-row codebooks as a (m, cent_id, ced) frame
    * of collected literals — the PQ model value, trained inside each
    * consumer's call like [[ivfModel]]. */
  private def pqModelFrame(e: DataFrame): DataFrame =
    e.sparkSession.createDataFrame(trainPqCodebooks(e).collect().toIndexedSeq
        .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2))))
      .toDF("m", "cent_id", "ced")

  /** Product-quantization encode + distortion audit — the vector-payload
    * compression step an ANN system at 100 TB runs before anything else
    * (a 10⁹×64-float corpus is 256 GB of raw vectors; the PQ codes are
    * 1 GB): each vector's M=4 subvectors are assigned to their trained
    * codebook centroids, and the entry emits the codes plus the exact
    * per-vector reconstruction error (decimal-summed over the M rounded
    * subspace distances — order-proof, so the oracle agrees bitwise).
    *
    * Shape at 100 TB: encode is a broadcast of 16 codebook rows against
    * the in-row subvector explode — one scan, one M-row/vector hash
    * aggregate back to vector grain, no data-sized shuffle beyond it.
    * Asymmetric-distance search over the codes (ADC) composes with the
    * IVF cell layout ([[ivfIndexSearch]]); the codes here are the
    * storage format that search would read. */
  def embeddingPq(spark: SparkSession, dir: String): DataFrame = {
    val e = vectors(spark, dir).scratchCache()
    pqEncodeWith(e, pqModelFrame(e))
  }

  /** Long-form codes — (vec_id, m, code, d2): each vector's per-subspace
    * codebook assignment. The storage row [[embeddingAdcSearch]] scans. */
  private[llm] def pqCodesLong(e: DataFrame, cents: DataFrame): DataFrame = {
    pqSubvectors(e).join(broadcast(cents), Seq("m"))
      .withColumn("d2", subL2)
      .groupBy("vec_id", "m")
      .agg(min(struct(col("d2"), col("cent_id"))).as("best"))
      .select(col("vec_id"), col("m"),
        col("best.cent_id").as("code"), col("best.d2").as("d2"))
  }

  /** Encode a vector frame against a given codebook frame — shared by the
    * entry (trained codebooks) and the distortion spec (seed codebooks). */
  private[llm] def pqEncodeWith(e: DataFrame, cents: DataFrame): DataFrame = {
    val codes = pqCodesLong(e, cents)
    codes.groupBy("vec_id")
      .agg(
        max(when(col("m") === 0, col("code"))).as("c0"),
        max(when(col("m") === 1, col("code"))).as("c1"),
        max(when(col("m") === 2, col("code"))).as("c2"),
        max(when(col("m") === 3, col("code"))).as("c3"),
        sum(col("d2").cast("decimal(18,6)")).as("recon_dec"))
      .select(col("vec_id"), col("c0"), col("c1"), col("c2"), col("c3"),
        col("recon_dec").cast("double").as("recon"))
      .orderBy("vec_id")
  }

  private def l2DuckSql(a: String, b: String): String =
    s"round(list_reduce(list_prepend(0.0::DOUBLE, " +
      s"list_transform(list_zip($a, $b), x -> (x[1] - x[2]) * (x[1] - x[2]))), " +
      s"(p, q) -> p + q), 6)"

  /** The PQ oracle CTE chain WITHOUT the `emb` prefix: subvectors, the
    * per-subspace k-means unrolled ([[kmeansCteSql]] pattern with the
    * subspace id as an extra grouping column), and the long-form `codes`
    * — identical L2 fold / rounding / tiebreaks to the Spark kernels.
    * Chain names are pq-prefixed (passign$i, not assign$i) so the chain
    * composes with [[kmeansCteSql]] in the IVF-ADC oracle without CTE
    * collisions. */
  private val pqChainSql: String = {
    val avgList = (0 until PqSubDim)
      .map(d => s"round(CAST(sum(CAST(sub[${d + 1}] AS DECIMAL(28,14))) AS DOUBLE)" +
        s" / count(*), $CentroidDp)").mkString("[", ", ", "]")
    val sb = new StringBuilder(
      s"""msubs AS (
         |  SELECT vec_id, m, list_slice(ed, m * $PqSubDim + 1, (m + 1) * $PqSubDim) AS sub
         |  FROM emb CROSS JOIN (SELECT unnest(range(0, $PqM)) AS m)
         |), pq0 AS (
         |  SELECT m, vec_id AS cent_id, sub AS ced FROM msubs WHERE vec_id < $PqK
         |)""".stripMargin)
    for (i <- 1 to PqIters) {
      sb.append(s""", passign$i AS (
         |  SELECT m, cent_id, sub FROM (
         |    SELECT s.m, s.sub, c.cent_id,
         |           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
         |             ORDER BY ${l2DuckSql("s.sub", "c.ced")}, c.cent_id) AS rk
         |    FROM msubs s JOIN pq${i - 1} c USING (m))
         |  WHERE rk = 1
         |), pq$i AS (
         |  SELECT m, cent_id, $avgList AS ced FROM passign$i GROUP BY m, cent_id
         |)""".stripMargin)
    }
    sb.append(s""", codes AS (
       |  SELECT vec_id, m, cent_id AS code, d2 FROM (
       |    SELECT s.vec_id, s.m, c.cent_id,
       |           ${l2DuckSql("s.sub", "c.ced")} AS d2,
       |           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
       |             ORDER BY ${l2DuckSql("s.sub", "c.ced")}, c.cent_id) AS rk
       |    FROM msubs s JOIN pq$PqIters c USING (m))
       |  WHERE rk = 1
       |)""".stripMargin)
    sb.toString
  }

  /** `emb` + the PQ chain — what the PQ-only oracles open with. */
  private val pqCteSql: String = s"$cosineCteSql, $pqChainSql"

  /** Oracle: codes + decimal-summed reconstruction off the shared chain. */
  val embeddingPqSql: String =
    s"""WITH $pqCteSql
       |SELECT vec_id,
       |       max(CASE WHEN m = 0 THEN code END) AS c0,
       |       max(CASE WHEN m = 1 THEN code END) AS c1,
       |       max(CASE WHEN m = 2 THEN code END) AS c2,
       |       max(CASE WHEN m = 3 THEN code END) AS c3,
       |       CAST(sum(CAST(d2 AS DECIMAL(18,6))) AS DOUBLE) AS recon
       |FROM codes GROUP BY vec_id
       |ORDER BY vec_id""".stripMargin

  /** Query id range for [[embeddingAdcSearch]] — the IVF entries' probe
    * set, so the three ANN serving paths rank the same queries. */
  private val AdcQLo = 100L
  private val AdcQHi = 105L

  /** Asymmetric-distance (ADC) top-k search over the PQ codes — the
    * serving path product quantization exists for: per query, an M×K
    * lookup table of subspace distances to every codebook centroid is
    * computed ONCE (here 4×4 = 16 rounded L2 folds), and every
    * candidate's approximate distance is the table-sum over its M codes
    * — the candidate's raw floats are NEVER read. At 10⁹ vectors the
    * scan touches 4 two-bit codes per candidate instead of 256 bytes,
    * and the per-query work is a broadcast of |Q|·M·K table rows against
    * the codes table with a map-side-combining (q, candidate) sum.
    *
    * Determinism: table entries are the same 6dp-rounded L2 folds as
    * encode; the per-pair sum of M of them accumulates in DECIMAL —
    * bit-identical on both engines, ties broken by c_id. */
  def embeddingAdcSearch(spark: SparkSession, dir: String): DataFrame = {
    val e = vectors(spark, dir).scratchCache()
    adcSearchFrom(e, pqModelFrame(e), AdcQLo, AdcQHi)
  }

  /** The ADC phase against given codebooks over query ids `[qLo, qHi)` —
    * shared by the entry and the planted-fixture recall spec. */
  private[llm] def adcSearchFrom(e: DataFrame, cents: DataFrame,
      qLo: Long, qHi: Long): DataFrame = {
    val codes = pqCodesLong(e, cents)
      .select(col("vec_id").as("c_id"), col("m"), col("code"))
    val dtab = pqSubvectors(e.filter(col("vec_id") >= qLo && col("vec_id") < qHi))
      .join(broadcast(cents), Seq("m"))
      .select(col("vec_id").as("q_id"), col("m").as("dm"), col("cent_id"),
        subL2.as("dq"))
    codes
      .join(broadcast(dtab),
        col("m") === col("dm") && col("code") === col("cent_id"))
      .filter(col("c_id") =!= col("q_id"))
      .groupBy("q_id", "c_id")
      .agg(sum(col("dq").cast("decimal(18,6)")).as("adist_dec"))
      .select(col("q_id"), col("c_id"),
        col("adist_dec").cast("double").as("adist"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("adist"), col("c_id"))).cast("long"))
      .filter(col("rank") <= 3)
      .select("q_id", "c_id", "adist", "rank")
      .orderBy("q_id", "rank")
  }

  /** IVF candidate generation against a trained coarse quantizer — the
    * (q_id, c_id) pairs a probed search scores, WITHOUT scoring them:
    * full-corpus argmax cell assignment, per-query top-nprobe probe
    * ranking, cell-keyed candidate join, deduped (a candidate can sit in
    * both probed cells). Shared by [[embeddingIvfAdcSearch]] and specs. */
  private[llm] def ivfCandidatesFrom(e: DataFrame, cents: DataFrame,
      qLo: Long, qHi: Long): DataFrame = {
    val assign = argmaxCellLit(e, centroidModel(cents))
      .select(col("vec_id"), col("cell"))
    val probes = e
      .filter(col("vec_id") >= qLo && col("vec_id") < qHi)
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cent_id"),
        round(CosineSimilarity.of(col("ed"), col("ced")), 6).as("csim"))
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("cent_id"))))
      .filter(col("crank") <= IvfNprobe)
      .select(col("vec_id").as("q_id"), col("cent_id").as("cell"))
    probes.join(assign, Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("c_id"))
      .dropDuplicates("q_id", "c_id")
  }

  /** IVF-ADC — the composed vector-serving pipeline (the FAISS IVFADC
    * shape): the IVF coarse quantizer prunes candidates to the probed
    * cells' members (~n·nprobe/K of the corpus), and each survivor is
    * scored by ASYMMETRIC DISTANCE over its PQ codes — the raw candidate
    * floats are touched by neither stage. This is the end-to-end path a
    * 10⁹-vector deployment actually runs: both models (K-row IVF
    * centroids, M×K PQ codebooks) are trained once each inside this call
    * and collected to literals, exactly as their standalone entries
    * train them; the composed path adds the candidate join and the
    * table-sum.
    *
    * Scale shape: candidate generation is the [[embeddingAnnIvf]] probe
    * join (shuffles on `cell`; at scale the assignment side is the
    * persisted bucketed table of [[ivfIndexSearch]], pre-paying that
    * shuffle); scoring joins candidates to 4 code rows each against a
    * broadcast |Q|·M·K lookup table — output-sized work, zero float I/O
    * for candidates. */
  def embeddingIvfAdcSearch(spark: SparkSession, dir: String): DataFrame = {
    val e = vectors(spark, dir).scratchCache()
    ivfAdcFrom(e, ivfModelFrame(e), pqModelFrame(e), AdcQLo, AdcQHi)
  }

  /** The composed IVF-candidates + ADC-scoring phase against given model
    * frames over query ids `[qLo, qHi)` — shared by
    * [[embeddingIvfAdcSearch]] and [[annRecallReport]]. */
  private[llm] def ivfAdcFrom(e: DataFrame, ivfCents: DataFrame,
      pqCents: DataFrame, qLo: Long, qHi: Long): DataFrame = {
    val cand = ivfCandidatesFrom(e, ivfCents, qLo, qHi)
    val codes = pqCodesLong(e, pqCents)
      .select(col("vec_id").as("c_id"), col("m"), col("code"))
    val dtab = pqSubvectors(e.filter(col("vec_id") >= qLo && col("vec_id") < qHi))
      .join(broadcast(pqCents), Seq("m"))
      .select(col("vec_id").as("dq_id"), col("m").as("dm"), col("cent_id"),
        subL2.as("dq"))
    cand.join(codes, Seq("c_id"))
      .join(broadcast(dtab),
        col("q_id") === col("dq_id") && col("m") === col("dm") &&
          col("code") === col("cent_id"))
      .groupBy("q_id", "c_id")
      .agg(sum(col("dq").cast("decimal(18,6)")).as("adist_dec"))
      .select(col("q_id"), col("c_id"),
        col("adist_dec").cast("double").as("adist"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("adist"), col("c_id"))).cast("long"))
      .filter(col("rank") <= 3)
      .select("q_id", "c_id", "adist", "rank")
      .orderBy("q_id", "rank")
  }

  /** Oracle: the IVF k-means chain and the PQ chain composed in one WITH
    * (collision-free by the passign renaming), candidates from the probe
    * join, distances from the code tables — same rounding/tiebreaks. */
  val embeddingIvfAdcSearchSql: String =
    s"""WITH $cosineCteSql, $kmeansCteSql, $pqChainSql, ranked AS (
       |  SELECT e.vec_id, c.cent_id,
       |         ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |           ORDER BY ${pairSimSql("e", "c")} DESC, c.cent_id) AS crank
       |  FROM emb e CROSS JOIN cents$IvfIters c
       |), assign AS (
       |  SELECT vec_id, cent_id AS cell FROM ranked WHERE crank = 1
       |), probes AS (
       |  SELECT vec_id AS q_id, cent_id AS cell FROM ranked
       |  WHERE vec_id >= $AdcQLo AND vec_id < $AdcQHi AND crank <= $IvfNprobe
       |), cand AS (
       |  SELECT DISTINCT p.q_id, a.vec_id AS c_id
       |  FROM probes p JOIN assign a USING (cell)
       |  WHERE a.vec_id <> p.q_id
       |), qtab AS (
       |  SELECT s.vec_id AS q_id, s.m, c.cent_id,
       |         ${l2DuckSql("s.sub", "c.ced")} AS dq
       |  FROM msubs s JOIN pq$PqIters c USING (m)
       |  WHERE s.vec_id >= $AdcQLo AND s.vec_id < $AdcQHi
       |)
       |SELECT q_id, c_id, adist, rank FROM (
       |  SELECT q_id, c_id, adist,
       |         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adist, c_id) AS rank
       |  FROM (
       |    SELECT cand.q_id, cand.c_id,
       |           CAST(sum(CAST(t.dq AS DECIMAL(18,6))) AS DOUBLE) AS adist
       |    FROM cand
       |    JOIN codes k ON k.vec_id = cand.c_id
       |    JOIN qtab t ON t.q_id = cand.q_id AND t.m = k.m AND t.cent_id = k.code
       |    GROUP BY 1, 2))
       |WHERE rank <= 3
       |ORDER BY q_id, rank""".stripMargin

  /** Oracle: the query tables off the shared PQ chain, same decimal sum. */
  val embeddingAdcSearchSql: String =
    s"""WITH $pqCteSql, qtab AS (
       |  SELECT s.vec_id AS q_id, s.m, c.cent_id,
       |         ${l2DuckSql("s.sub", "c.ced")} AS dq
       |  FROM msubs s JOIN pq$PqIters c USING (m)
       |  WHERE s.vec_id >= $AdcQLo AND s.vec_id < $AdcQHi
       |)
       |SELECT q_id, c_id, adist, rank FROM (
       |  SELECT q_id, c_id, adist,
       |         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adist, c_id) AS rank
       |  FROM (
       |    SELECT t.q_id, k.vec_id AS c_id,
       |           CAST(sum(CAST(t.dq AS DECIMAL(18,6))) AS DOUBLE) AS adist
       |    FROM codes k JOIN qtab t ON k.m = t.m AND k.code = t.cent_id
       |    WHERE k.vec_id <> t.q_id
       |    GROUP BY 1, 2))
       |WHERE rank <= 3
       |ORDER BY q_id, rank""".stripMargin

  /** Recall@3 of the two probed ANN serving paths — IVF (exact cosine
    * over probed-cell candidates) and IVFADC (ADC table-sums over the
    * same candidates) — against the brute-force exact-cosine truth,
    * computed IN-ENGINE over the shared query set `[AdcQLo, AdcQHi)`
    * (VERDICT r15 #6): search QUALITY becomes a hash-gated registry
    * artifact like every result, instead of living only in the planted-
    * fixture spec. Both searches and the truth are fully deterministic
    * (6dp-rounded similarities, decimal ADC sums, id tie-breaks), so
    * recall itself is oracle-able.
    *
    * Scale shape: the truth pass is |Q|·n work against a broadcast of
    * the ≤|Q|-row query side (the `.limit` is a value no-op — vec_id is
    * unique — that makes the bound STRUCTURAL for the registry lint);
    * run it over a sampled query set in production, exactly as FAISS
    * benchmarks do. The searches reuse the entries' own kernels
    * ([[ivfSearchFrom]], [[ivfAdcFrom]]) against one IVF model and one
    * PQ model trained in this call, so the report measures the deployed
    * paths, not copies. */
  def annRecallReport(spark: SparkSession, dir: String): DataFrame = {
    val e = vectors(spark, dir).scratchCache()
    val ivfCents = ivfModelFrame(e)
    val pqCents = pqModelFrame(e)
    val queries = e.filter(col("vec_id") >= AdcQLo && col("vec_id") < AdcQHi)
      .limit((AdcQHi - AdcQLo).toInt)
      .select(col("vec_id").as("q_id"), col("ed").as("qed"))
    val truth = e.select(col("vec_id").as("c_id"), col("ed").as("c_ed"))
      .crossJoin(broadcast(queries))
      .filter(col("c_id") =!= col("q_id"))
      .withColumn("sim", round(CosineSimilarity.of(col("qed"), col("c_ed")), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))))
      .filter(col("rank") <= 3)
      .select("q_id", "c_id")
    val qids = queries.select("q_id")
    def recallOf(res: DataFrame, method: String): DataFrame = {
      val hits = truth
        .join(res.select("q_id", "c_id"), Seq("q_id", "c_id"), "left_semi")
        .groupBy("q_id").agg(count(lit(1)).as("h"))
      qids.join(hits, Seq("q_id"), "left")
        .select(lit(method).as("method"), col("q_id"),
          coalesce(col("h"), lit(0L)).as("hits"),
          round(coalesce(col("h"), lit(0L)) / lit(3.0), 6).as("recall"))
    }
    recallOf(ivfSearchFrom(e, ivfCents, AdcQLo, AdcQHi), "ivf")
      .unionByName(recallOf(
        ivfAdcFrom(e, ivfCents, pqCents, AdcQLo, AdcQHi), "ivfadc"))
      .orderBy("method", "q_id")
  }

  /** Oracle: the IVFADC oracle's shared CTE chain (both model chains,
    * the probe join's `cand`), plus the exact truth, the two ranked
    * search results restricted to (q_id, c_id), and the per-query hit
    * counts — same rounding, decimal sums, and id tie-breaks. */
  val annRecallReportSql: String =
    s"""WITH $cosineCteSql, $kmeansCteSql, $pqChainSql, ranked AS (
       |  SELECT e.vec_id, c.cent_id,
       |         ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |           ORDER BY ${pairSimSql("e", "c")} DESC, c.cent_id) AS crank
       |  FROM emb e CROSS JOIN cents$IvfIters c
       |), assign AS (
       |  SELECT vec_id, cent_id AS cell FROM ranked WHERE crank = 1
       |), probes AS (
       |  SELECT vec_id AS q_id, cent_id AS cell FROM ranked
       |  WHERE vec_id >= $AdcQLo AND vec_id < $AdcQHi AND crank <= $IvfNprobe
       |), cand AS (
       |  SELECT DISTINCT p.q_id, a.vec_id AS c_id
       |  FROM probes p JOIN assign a USING (cell)
       |  WHERE a.vec_id <> p.q_id
       |), qtab AS (
       |  SELECT s.vec_id AS q_id, s.m, c.cent_id,
       |         ${l2DuckSql("s.sub", "c.ced")} AS dq
       |  FROM msubs s JOIN pq$PqIters c USING (m)
       |  WHERE s.vec_id >= $AdcQLo AND s.vec_id < $AdcQHi
       |), truth AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |           ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |             ORDER BY ${pairSimSql("q", "c")} DESC, c.vec_id) AS rank
       |    FROM emb q JOIN emb c
       |      ON q.vec_id >= $AdcQLo AND q.vec_id < $AdcQHi AND c.vec_id <> q.vec_id)
       |  WHERE rank <= 3
       |), ivf AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT s.q_id, s.c_id,
       |           ROW_NUMBER() OVER (PARTITION BY s.q_id
       |             ORDER BY s.sim DESC, s.c_id) AS rank
       |    FROM (
       |      SELECT cand.q_id, cand.c_id, ${pairSimSql("q", "c")} AS sim
       |      FROM cand
       |      JOIN emb q ON q.vec_id = cand.q_id
       |      JOIN emb c ON c.vec_id = cand.c_id) s)
       |  WHERE rank <= 3
       |), adc AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q_id, c_id,
       |           ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adist, c_id) AS rank
       |    FROM (
       |      SELECT cand.q_id, cand.c_id,
       |             CAST(sum(CAST(t.dq AS DECIMAL(18,6))) AS DOUBLE) AS adist
       |      FROM cand
       |      JOIN codes k ON k.vec_id = cand.c_id
       |      JOIN qtab t ON t.q_id = cand.q_id AND t.m = k.m AND t.cent_id = k.code
       |      GROUP BY 1, 2))
       |  WHERE rank <= 3
       |), qids AS (
       |  SELECT vec_id AS q_id FROM emb
       |  WHERE vec_id >= $AdcQLo AND vec_id < $AdcQHi
       |)
       |SELECT method, q_id, hits, recall FROM (
       |  SELECT 'ivf' AS method, q.q_id,
       |         CAST(COALESCE(h.h, 0) AS BIGINT) AS hits,
       |         round(COALESCE(h.h, 0) / 3.0, 6) AS recall
       |  FROM qids q LEFT JOIN (
       |    SELECT t.q_id, count(*) AS h FROM truth t
       |    JOIN ivf i ON i.q_id = t.q_id AND i.c_id = t.c_id GROUP BY 1) h
       |    USING (q_id)
       |  UNION ALL
       |  SELECT 'ivfadc' AS method, q.q_id,
       |         CAST(COALESCE(h.h, 0) AS BIGINT) AS hits,
       |         round(COALESCE(h.h, 0) / 3.0, 6) AS recall
       |  FROM qids q LEFT JOIN (
       |    SELECT t.q_id, count(*) AS h FROM truth t
       |    JOIN adc a ON a.q_id = t.q_id AND a.c_id = t.c_id GROUP BY 1) h
       |    USING (q_id))
       |ORDER BY method, q_id""".stripMargin

  // -------------------------------------------------------------------------
  // Semantic dedup — cluster-partitioned near-dup pruning (the SemDeDup
  // shape: Abbas et al., "SemDeDup: Data-efficient learning at web-scale
  // through semantic deduplication", arXiv:2303.09540)
  // -------------------------------------------------------------------------

  /** Cosine threshold for the semantic-dedup family. Sits at the
    * [[embeddingCosineDedup]] demo threshold (this corpus's max pair
    * cosine ≈ 0.51) so the two entries are directly comparable: same
    * pair universe, exact all-pairs vs cluster-partitioned candidates.
    * A production run sits at ≥ 0.95, where near-identical vectors
    * land in the same argmax cell with near-certainty; at 0.45 the
    * cell restriction visibly drops cross-cell pairs, which is exactly
    * what [[semanticDedupRecall]] measures. */
  private val SemCosine = 0.45

  /** The probe-anchor bound for the recall audit: pairs whose MIN
    * endpoint id sits under this anchor every unordered pair exactly
    * once within the probe set. */
  private val SemProbeN = 64

  /** Assignment against an explicit centroid frame — factored so the
    * spec can drive the kernel with a planted-cluster fixture. */
  private[llm] def semanticAssignWith(e: DataFrame, cents: DataFrame): DataFrame =
    semanticAssignLit(e, centroidModel(cents))

  /** Shared (vec_id, ed, cell) assignment: every vector's max-cosine
    * centroid of a collected model, via the map-side [[argmaxCellLit]]
    * fold. */
  private def semanticAssignLit(e: DataFrame,
      model: IndexedSeq[(Long, Seq[Double])]): DataFrame =
    argmaxCellLit(e, model)
      // both sides of the within-cell self-join read this frame — cache
      // it run-scoped so the scan+assign pass runs once, not once per
      // join branch (the assign itself is one map-side fold)
      .scratchCache()

  /** Within-cell candidate pairs confirmed at [[SemCosine]] — shared by
    * [[semanticDedup]] and [[semanticDedupApply]] (and the spec's
    * planted-cluster fixture through [[semanticAssignWith]]). */
  private[llm] def semanticPairsFrom(assign: DataFrame): DataFrame = {
    assign.as("a")
      .join(assign.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("doc_a"), col("b.vec_id").as("doc_b"),
        col("a.cell").as("cell"),
        CosineSimilarity.of(col("a.ed"), col("b.ed")).as("c"))
      // raw prefilter before the BigDecimal-backed round (the
      // lshDedupKernel pattern): candidates are cell-random, the 1e-6
      // slack keeps every pair that could round up to the threshold
      .filter(col("c") >= SemCosine - 1e-6)
      .select(col("doc_a"), col("doc_b"), col("cell"),
        round(col("c"), 6).as("cosine"))
      .filter(col("cosine") >= SemCosine)
  }

  /** The semantic-dedup path at K cells: train the K-cell quantizer on
    * `e` ([[ivfModel]]), assign every vector to its cell, and confirm
    * within-cell pairs — [[semanticDedup]], [[semanticDedupK64]] and
    * [[semanticDedupAuto]] differ only in K. */
  private def semanticDedupAt(e: DataFrame, k: Int): DataFrame =
    semanticPairsFrom(semanticAssignLit(e, ivfModel(e, k)))
      .orderBy("doc_a", "doc_b")

  /** SEMANTIC near-dup pairs, cluster-partitioned (the SemDeDup kernel):
    * assign every vector to its max-cosine trained centroid, then
    * generate and confirm candidate pairs ONLY within a cell.
    *
    * This is the committed scale answer to the LSH fixed-bucket
    * occupancy wall (SCALE.md: the 8×6 and 12×8 geometries CONVERGE at
    * ~200k vectors because candidates grow n²/bucket-domain under any
    * fixed geometry): here the bucket domain is the trained centroid
    * set, and K is a DIAL — production corpora train K ∝ n/target-cell
    * (the published pipelines run ~100k clusters at web scale), holding
    * per-cell occupancy (and so candidates ≈ n·cell/2) constant as n
    * grows. Assignment is K broadcast cosines per vector (map-only);
    * the pair join shuffles on the cell key; no all-pairs step exists.
    * The trade vs LSH: candidates drop from n²/buckets to Σ_c n_c², at
    * the cost of RECALL on pairs straddling a cell boundary — high at
    * production thresholds (near-identical vectors share an argmax
    * cell), measured honestly by [[semanticDedupRecall]] at this
    * corpus's 0.45 demo threshold. K stays the compile-time [[IvfK]]
    * here so the oracle mirrors the exact centroid chain. */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame =
    semanticDedupAt(vectors(spark, dir), IvfK)

  /** Oracle: the identical centroid chain ([[kmeansCteSql]] — same K,
    * iterations, decimal means, rounding) plus the within-cell pair
    * join at the same threshold. Cell-restricted on BOTH engines: the
    * entry's contract IS the SemDeDup candidate set, not all-pairs
    * truth (that gap is [[semanticDedupRecall]]'s output). */
  val semanticDedupSql: String = semanticDedupSqlFor(IvfK)

  private def semanticDedupSqlFor(k: Int): String =
    semanticDedupSqlExpr(k.toString)

  private def semanticDedupSqlExpr(kExpr: String): String =
    s"""WITH $cosineCteSql, ${kmeansCteSqlExpr(kExpr)}, ranked AS (
       |  SELECT e.vec_id, c.cent_id,
       |         ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |           ORDER BY ${pairSimSql("e", "c")} DESC, c.cent_id) AS crank
       |  FROM emb e CROSS JOIN cents$IvfIters c
       |), assign AS (
       |  SELECT vec_id, cent_id AS cell FROM ranked WHERE crank = 1
       |)
       |SELECT doc_a, doc_b, cell, cosine FROM (
       |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b, aa.cell,
       |         ${pairSimSql("a", "b")} AS cosine
       |  FROM emb a
       |  JOIN emb b ON a.vec_id < b.vec_id
       |  JOIN assign aa ON aa.vec_id = a.vec_id
       |  JOIN assign ab ON ab.vec_id = b.vec_id AND ab.cell = aa.cell)
       |WHERE cosine >= $SemCosine
       |ORDER BY doc_a, doc_b""".stripMargin

  /** The cluster-count DIAL for the scale variant: at bench scale a
    * K=64 quantizer over this corpus's 500-5000 vectors gives cells of
    * ~8-80 members — the production occupancy regime, where candidates
    * are n·cell/2 instead of n²/K. SCALE.md's 100× study measured the
    * dial at K=256/200k vectors: ~10 s end-to-end vs ~110 s for either
    * fixed LSH geometry. */
  private[llm] val SemWideK = 64

  /** [[semanticDedup]] with the DIAL turned — the registered scale
    * geometry (the `embedding_lsh_dedup_wide` precedent: the bench
    * entry keeps the oracle-cheap K=[[IvfK]], this one pins the
    * production shape in the correctness gate). Trains its own K=64
    * quantizer through [[trainCentroidsK]] — the identical chain the
    * oracle unrolls at the same K — then runs the same within-cell
    * candidate + exact-confirm kernel. */
  def semanticDedupK64(spark: SparkSession, dir: String): DataFrame =
    semanticDedupAt(vectors(spark, dir), SemWideK)

  /** Oracle: the same generator at K=[[SemWideK]]. */
  val semanticDedupK64Sql: String = semanticDedupSqlFor(SemWideK)

  /** The data-driven K policy (VERDICT r19 next-round #3): target
    * within-cell occupancy. K = n / [[SemTargetCell]] holds candidates
    * ≈ n·cell/2 as the corpus grows — the production dial the fixed-K
    * entries only sample at two points. 25 gives distinct K at the two
    * verified scales (500 vectors → K=20, 2000 → K=80), so the
    * correctness gate itself witnesses K moving with corpus size. */
  private[llm] val SemTargetCell = 25
  private[llm] val SemAutoKMin = 2

  /** Ceiling on the derived K — a RESOURCE bound, not a plan bound:
    * the native [[graft.functions.ArgmaxCell]] assignment is O(1) in K
    * plan-wise, but each Lloyd round still collects a K-row model and
    * aggregates K×[[Dim]] means, and the driver-side literal is K×Dim
    * doubles (256×64 = 16K — trivial; 10⁵×64 = 51 MB per task binary —
    * budget it deliberately, don't drift into it). */
  private[llm] val SemAutoKMax = 256

  /** K = clamp(n / [[SemTargetCell]], [[SemAutoKMin]], [[SemAutoKMax]])
    * — Long floor-division, mirrored by the oracle's
    * FLOOR(count(*) / 25.0) (exact: integer-valued quotients of
    * sub-2⁵³ integers divide exactly in doubles). */
  private[llm] def semAutoK(n: Long): Int =
    math.max(SemAutoKMin.toLong,
      math.min(SemAutoKMax.toLong, n / SemTargetCell)).toInt

  /** [[semanticDedup]] with K DERIVED from the corpus (the registered
    * production policy, closing the dial story): count the vectors
    * (one bounded scalar job), set K = n/[[SemTargetCell]] clamped,
    * train through the identical [[trainCentroidsK]] chain, and run
    * the same within-cell candidate + exact-confirm kernel. Both
    * engines compute the same formula — the oracle derives K as a
    * scalar subquery over the same table — so the contract pins the
    * POLICY, not a K constant: re-verified at sf0.01 (K=20) and sf0.1
    * (K=80), the gate itself proves K moves with corpus size. */
  def semanticDedupAuto(spark: SparkSession, dir: String): DataFrame = {
    val e = vectors(spark, dir)
      .scratchCache() // count + IvfIters Lloyd rounds + both join sides
    semanticDedupAt(e, semAutoK(e.count()))
  }

  /** Oracle: the same generator with K as the same clamped
    * corpus-count formula, computed by DuckDB over the same rows. */
  val semanticDedupAutoSql: String = semanticDedupSqlExpr(
    s"SELECT GREATEST($SemAutoKMin, LEAST($SemAutoKMax, " +
      s"CAST(FLOOR(count(*) / $SemTargetCell.0) AS BIGINT))) FROM emb")

  /** The recall audit the semantic trade demands: of the TRUE near-dup
    * pairs (exact cosine ≥ [[SemCosine]]), what fraction does the
    * cell restriction keep as candidates? Truth is probe-anchored —
    * pairs whose min endpoint id < [[SemProbeN]] — so the exact side
    * is a bounded-broadcast × corpus stream, never all-pairs (the
    * `dedup_eval_sampled` / `ann_recall_report` audit shape: at 100 TB
    * you estimate recall from a probe sample, you never compute the
    * full truth). Emits ONE row (n_true, n_found, recall). */
  def semanticDedupRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = vectors(spark, dir)
      .scratchCache() // probe side + candidate side + assignment
    val probes = e.filter(col("vec_id") < SemProbeN).limit(SemProbeN)
      .select(col("vec_id").as("p_id"), col("ed").as("ped"))
    val truth = e.crossJoin(broadcast(probes))
      .filter(col("vec_id") > col("p_id"))
      .select(col("p_id"), col("vec_id").as("c_id"),
        CosineSimilarity.of(col("ped"), col("ed")).as("c"))
      .filter(col("c") >= SemCosine - 1e-6)
      .filter(round(col("c"), 6) >= SemCosine)
      .select("p_id", "c_id")
    val assign = semanticAssignLit(e, ivfModel(e, IvfK)).select("vec_id", "cell")
    val joined = truth
      .join(assign.select(col("vec_id").as("p_id"), col("cell").as("pc")), "p_id")
      .join(assign.select(col("vec_id").as("c_id"), col("cell").as("cc")), "c_id")
    joined.agg(
        count(lit(1)).as("n_true"),
        count(when(col("pc") === col("cc"), 1)).as("n_found"))
      .select(col("n_true"), col("n_found"),
        when(col("n_true") === 0, lit(1.0))
          .otherwise(round(col("n_found").cast("double") / col("n_true"), 6))
          .as("recall"))
  }

  /** Oracle: same probe-anchored truth, same centroid chain, same
    * one-row reduction. */
  val semanticDedupRecallSql: String =
    s"""WITH $cosineCteSql, $kmeansCteSql, ranked AS (
       |  SELECT e.vec_id, c.cent_id,
       |         ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |           ORDER BY ${pairSimSql("e", "c")} DESC, c.cent_id) AS crank
       |  FROM emb e CROSS JOIN cents$IvfIters c
       |), assign AS (
       |  SELECT vec_id, cent_id AS cell FROM ranked WHERE crank = 1
       |), truth AS (
       |  SELECT p.vec_id AS p_id, c.vec_id AS c_id
       |  FROM emb p JOIN emb c
       |    ON p.vec_id < $SemProbeN AND c.vec_id > p.vec_id
       |  WHERE ${pairSimSql("p", "c")} >= $SemCosine
       |)
       |SELECT CAST(count(*) AS BIGINT) AS n_true,
       |       CAST(count(*) FILTER (WHERE ap.cell = ac.cell) AS BIGINT) AS n_found,
       |       CASE WHEN count(*) = 0 THEN 1.0
       |            ELSE round(count(*) FILTER (WHERE ap.cell = ac.cell) * 1.0
       |                       / count(*), 6) END AS recall
       |FROM truth t
       |JOIN assign ap ON ap.vec_id = t.p_id
       |JOIN assign ac ON ac.vec_id = t.c_id""".stripMargin

  /** The drop step that finishes the semantic pipeline (the
    * [[Dedup.dedupApply]] of this family): connected components over
    * the within-cell pairs, keep the min-id vector per component, emit
    * the surviving corpus rows. Component resolution rides
    * [[Dedup.connectedComponents]] (min-label propagation + pointer
    * jumping — O(log n) rounds, never a driver-side graph); the drop
    * list is near-dup-sized, so the anti-join broadcasts under AQE and
    * the corpus streams map-only. */
  def semanticDedupApply(spark: SparkSession, dir: String): DataFrame = {
    val e = vectors(spark, dir)
    val pairs = semanticPairsFrom(semanticAssignLit(e, ivfModel(e, IvfK)))
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
    val drops = Dedup.connectedComponents(pairs)
      .filter(col("node") =!= col("component"))
      .select(col("node").as("vec_id"))
    Tables.embeddings(spark, dir)
      .join(drops, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("label"))
      .orderBy("vec_id")
  }

  /** Oracle: recursive transitive closure over the same within-cell
    * pairs (the [[Dedup.clusterSizeHistogramSql]] reach pattern),
    * min-label components, survivors by anti-membership. */
  val semanticDedupApplySql: String =
    s"""WITH RECURSIVE $cosineCteSql, $kmeansCteSql, ranked AS (
       |  SELECT e.vec_id, c.cent_id,
       |         ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |           ORDER BY ${pairSimSql("e", "c")} DESC, c.cent_id) AS crank
       |  FROM emb e CROSS JOIN cents$IvfIters c
       |), assign AS (
       |  SELECT vec_id, cent_id AS cell FROM ranked WHERE crank = 1
       |), spairs AS (
       |  SELECT doc_a, doc_b FROM (
       |    SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
       |           ${pairSimSql("a", "b")} AS cosine
       |    FROM emb a
       |    JOIN emb b ON a.vec_id < b.vec_id
       |    JOIN assign aa ON aa.vec_id = a.vec_id
       |    JOIN assign ab ON ab.vec_id = b.vec_id AND ab.cell = aa.cell)
       |  WHERE cosine >= $SemCosine
       |), edges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM spairs
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM spairs
       |), reach AS (
       |  SELECT u, u AS v FROM (SELECT DISTINCT u FROM edges) nodes
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
       |), comp AS (
       |  SELECT u AS vec_id, min(v) AS component FROM reach GROUP BY u
       |)
       |SELECT vec_id, label FROM embeddings
       |WHERE vec_id NOT IN (SELECT vec_id FROM comp WHERE vec_id <> component)
       |ORDER BY vec_id""".stripMargin
}
