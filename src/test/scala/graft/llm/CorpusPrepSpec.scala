package graft.llm

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class CorpusPrepSpec extends SparkSpec {

  // checkpointed, not cached: SparkSpec clears the cache after every
  // test, and every test below reads this one funnel result
  private lazy val selected = CorpusPrep.corpusPrep(spark, sfDir).localCheckpoint()

  test("every selected document clears the quality gate") {
    val under = selected.filter(col("quality_score") < TextAnalysis.LowQuality)
    assert(under.isEmpty, "gate stage must have removed sub-bar docs")
    assert(selected.count() > 0, "the funnel must select something at sf0.001")
  }

  test("selected texts are exact-dedup'd and contain no test split or contaminated docs") {
    val texts = Tables.documents(spark, sfDir).select("doc_id", "text")
    val withText = selected.join(texts, "doc_id")
    assert(withText.count() == selected.count())
    val n = withText.agg(countDistinct(md5(col("text"))).as("d"),
      count(lit(1)).as("n")).head()
    assert(n.getLong(0) == n.getLong(1),
      "exact-dedup stage keeps one doc per distinct text among survivors")
    assert(selected.filter(col("split") === "test").isEmpty)
    val flagged = Decontaminate.decontaminateFuzzy(spark, sfDir)
      .select("doc_id").distinct()
    assert(selected.join(flagged, Seq("doc_id"), "left_semi").isEmpty,
      "no fuzzy-contaminated doc may survive")
  }

  test("budget fill: prefix sums reconcile and the budget bounds admission") {
    import spark.implicits._
    val rows = selected
      .select("n_tokens", "quality_score", "doc_id", "cum_tokens")
      .as[(Long, Double, Long, Long)].collect()
      .sortBy(r => (-r._2, r._3))
    var cum = 0L
    rows.foreach { case (nTok, _, _, cumGot) =>
      assert(cum < CorpusPrepSpecBudget.value,
        "a doc is admitted only while the running total is under budget")
      cum += nTok
      assert(cumGot == cum, "cum_tokens must be the (quality DESC, doc_id) prefix sum")
    }
  }

  test("wide near-dup width: funnel counts reconcile with an independent wide recomputation") {
    // The composite must be able to ride the production 120-bit kernel
    // (SCALE.md's scale path): run stages() at the wide width and
    // reconcile every count against an independently recomputed funnel
    // where the wide pair kernel is applied by hand to the exact-stage
    // survivors. The two widths pin different near-dup predicates, so
    // also check the wide drop set is a subset of the 60-bit one (the
    // 120-bit Hamming <= 7 bar is strictly tighter on this corpus's
    // near-identical families).
    val s = CorpusPrep.stages(spark, sfDir, wideNearDup = true)
    val widePairs = Dedup.simhashPairsFrom(Dedup.shinglesOf(s.exact), words = 2)
    val wideDrop = widePairs.select(col("doc_b").as("doc_id")).distinct()
    val expectNd = s.exact.join(wideDrop, Seq("doc_id"), "left_anti")
    assert(s.nd.count() == expectNd.count(),
      "wide funnel's post-near-dup count must equal the recomputation")
    assert(s.nd.select("doc_id").except(expectNd.select("doc_id")).isEmpty,
      "wide funnel's survivor set must equal the recomputation")
    val narrow = CorpusPrep.stages(spark, sfDir)
    assert(s.gated.count() == narrow.gated.count() &&
      s.exact.count() == narrow.exact.count(),
      "width only affects stage 3 and beyond")
    val narrowDrop = Dedup.simhashPairsFrom(Dedup.shinglesOf(narrow.exact), words = 1)
      .select(col("doc_b").as("doc_id")).distinct()
    assert(wideDrop.join(narrowDrop, Seq("doc_id"), "left_anti").isEmpty,
      "on this corpus the 120-bit drop set is a subset of the 60-bit one")
    graft.RunScope.releaseAll()
  }

  test("stage ordering: a near-dup pair with a quality-dropped partner does not drop the survivor") {
    // The funnel computes simhash pairs AMONG GATED SURVIVORS. Recompute
    // the edge-greedy drop set both ways on the corpus: threaded (pairs
    // over gated+exact-dedup'd docs — what the entry does) vs naive
    // (pairs over the whole corpus). Every threaded drop is also a naive
    // drop, and any doc dropped ONLY naively must appear in the
    // selection's upstream survivor set if it qualifies otherwise.
    val docs = Tables.spread(Tables.documents(spark, sfDir))
    val scored = TextAnalysis.qualityFrame(spark, sfDir)
      .select("doc_id", "n_tokens", "quality_score")
    val gated = docs.select("doc_id", "text").join(scored, "doc_id")
      .filter(col("quality_score") >= TextAnalysis.LowQuality)
    val keepers = gated.groupBy(md5(col("text")).as("k"))
      .agg(min(col("doc_id")).as("doc_id"))
    val exact = gated.join(keepers.select("doc_id"), Seq("doc_id"), "left_semi")
    val threaded = Dedup.simhashPairsFrom(Dedup.shinglesOf(exact), words = 1)
      .select(col("doc_b").as("doc_id")).distinct()
    val naive = Dedup.simhashDedup(spark, sfDir)
      .select(col("doc_b").as("doc_id")).distinct()
    assert(threaded.join(naive, Seq("doc_id"), "left_anti").isEmpty,
      "pairs among survivors are a subset of corpus-wide pairs")
    // docs dropped only by the naive policy: selected set may contain them
    val onlyNaive = naive.join(threaded, Seq("doc_id"), "left_anti")
    val reprieved = selected.join(onlyNaive, Seq("doc_id"), "left_semi")
    // not asserting non-empty (corpus-dependent); assert the entry is
    // CONSISTENT with threading: nothing in the threaded drop set is
    // selected
    assert(selected.join(threaded, Seq("doc_id"), "left_semi").isEmpty,
      "an edge-greedy drop among survivors must not be selected")
    reprieved.count() // materialize: the path must at least evaluate
  }
}

object CorpusPrepSpecBudget {
  // mirror of CorpusPrep.PrepTokenBudget for the admission assertion
  // (kept test-side so the spec restates the contract independently)
  val value = 15000L
}
