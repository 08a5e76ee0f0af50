package whbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.analytics.{Queries, Windows}
import graft.etl.Transforms
import graft.llm.{Decontaminate, Dedup, QualityLr, Similarity, TextAnalysis}
import graft.operators.{AsofJoin, RuntimeFilter, SkewJoin}
import graft.sources.Layout
import graft.streaming.EventsStream
import graft.warehouse.{Dims, Facts, Merge, Scd}

/** One call into a layer: `build` returns the DataFrame (and does whatever
  * the function does eagerly), then the action writes it as parquet when
  * `stored`, or runs it through the noop sink. The name is the function's
  * registry name; the layer is its module. */
final case class Step(name: String, layer: String, stored: Boolean,
                      build: (SparkSession, String) => DataFrame)

/** A named workload: its steps in the reference's order and the corpus it
  * runs over (`copies` of sf0.1; `corpusTables` are generated from the
  * seed, `inputTables` are what its throughput counts). */
final case class Workload(name: String, steps: Seq[Step], copies: Int,
                          inputTables: Seq[String], corpusTables: Seq[String])

object Steps {
  val Layers = Seq("etl", "warehouse", "sources", "analytics", "operators", "llm", "streaming")

  private type Fn = (SparkSession, String) => DataFrame
  private def etl(n: String, f: Fn) = Step(n, "etl", stored = true, f)
  private def wh(n: String, f: Fn) = Step(n, "warehouse", stored = true, f)
  private def src(n: String, f: Fn) = Step(n, "sources", stored = true, f)
  private def llm(n: String, f: Fn) = Step(n, "llm", stored = true, f)
  private def read(layer: String)(n: String, f: Fn) = Step(n, layer, stored = false, f)
  private def an(n: String, f: Fn) = read("analytics")(n, f)

  /** python.py then inserting-data.sql: ETL, dimensions, facts, SCD and
    * CDC maintenance, storage. Every output is written as parquet. */
  val refresh: Seq[Step] = Seq(
    etl("etl_clean_events", Transforms.cleanEvents),
    etl("etl_group_impute", Transforms.groupImpute),
    etl("etl_melt_pivot", Transforms.meltPivot),
    etl("etl_full_pipeline", Transforms.etlFullPipeline),
    wh("date_dim", Dims.dateDim),
    wh("year_dim", Dims.yearDim),
    wh("location_dim", Dims.locationDim),
    wh("category_dim", Dims.categoryDim),
    wh("company_dim", Dims.companyDim),
    wh("fact_multijoin", Facts.factMultijoin),
    wh("population_fact", Facts.populationFact),
    wh("scd2_resolution", Scd.scd2Resolution),
    wh("scd3_issue", Scd.scd3Issue),
    wh("merge_cdc", Merge.mergeCdc),
    wh("snapshot_diff", Merge.snapshotDiff),
    src("partition_overwrite", Layout.partitionOverwrite))

  /** analysis.sql Q1-Q4, then the reads an analyst runs next to them over
    * the same star schema. Each runs through the noop sink. */
  val session: Seq[Step] = Seq(
    an("q1_ratio_rank", Queries.q1RatioRank),
    an("q1b_disputed_rank", Queries.q1bDisputedRank),
    an("q1c_companies", Queries.q1cCompanies),
    an("q2_state_ratios", Queries.q2StateRatios),
    an("q3a_cf_view", Queries.q3aCfView),
    an("q3b_worst_issues", Queries.q3bWorstIssues),
    an("q4_bottom_states", Queries.q4BottomStates),
    an("tpch_q1_pricing", Queries.tpchQ1Pricing),
    an("tpch_q6_revenue", Queries.tpchQ6Revenue),
    read("warehouse")("scd2_pointintime_join", Scd.scd2PointInTimeJoin),
    an("nation_revenue_ranks", Windows.nationRevenueRanks),
    read("operators")("asof_join", AsofJoin.asofJoin),
    read("operators")("bloom_pruned_join", RuntimeFilter.bloomPrunedJoin),
    read("operators")("skew_salted_agg", SkewJoin.skewSaltedAgg),
    read("sources")("partitioned_scan", Layout.partitionedScan),
    read("streaming")("session_metrics", EventsStream.sessionMetrics),
    read("streaming")("window_agg", EventsStream.windowAgg))

  /** Prep, dedup, decontamination, embedding dedup, then tokenizer and
    * quality model: the order a curation pipeline runs them in. The
    * cluster build and its apply step both run, so the apply step pays the
    * build in every pass. */
  val curation: Seq[Step] = Seq(
    llm("text_normalize", TextAnalysis.textNormalize),
    llm("lang_id", TextAnalysis.langId),
    llm("quality_gate", TextAnalysis.qualityGate),
    llm("exact_dedup", TextAnalysis.exactDedup),
    llm("minhash_dedup", Dedup.minhashDedup),
    llm("simhash_dedup", Dedup.simhashDedup),
    llm("dedup_clusters", Dedup.dedupClusters),
    llm("dedup_apply", Dedup.dedupApply),
    llm("decontaminate", Decontaminate.decontaminate),
    llm("semantic_dedup", Similarity.semanticDedup),
    llm("embedding_lsh_dedup", Similarity.embeddingLshDedup),
    llm("bpe_train", TextAnalysis.bpeTrain),
    llm("tfidf_top_terms", TextAnalysis.tfidfTopTerms),
    llm("quality_lr_train", QualityLr.qualityLrTrain),
    llm("quality_lr_score", QualityLr.qualityLrScore))

  private val warehouseTables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events")

  val workloads: Map[String, Workload] = Seq(
    Workload("warehouse", refresh ++ session, 1, warehouseTables, warehouseTables),
    Workload("curation", curation, 1, Seq("documents"), Seq("documents", "embeddings")))
    .map(w => w.name -> w).toMap
}
