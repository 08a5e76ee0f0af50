package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate, GlobalLimit, LogicalPlan, ResolvedHint}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.analytics.Queries
import graft.etl.Transforms
import graft.llm.Similarity

/** Plan audits: pin the physical-plan properties the 100 TB design relies
  * on (SURVEY.md §4) so a regression in plan shape fails the suite, not
  * just the benchmark. */
class PlanSpec extends SparkSpec {

  private def planString(df: DataFrame): String = {
    df.collect() // finalize AQE so the executed plan is the real one
    df.queryExecution.executedPlan.toString
  }

  /** Tables whose size scales with SF: a plan-time broadcast HINT on a raw
    * scan of one of these is a guaranteed OOM at large SF (supplier is
    * ~10⁹ rows at 100 TB). Strategy choice for them belongs to AQE. A hint
    * is fine when the hinted subtree has already reduced cardinality
    * (Aggregate / LIMIT) — the broadcast then ships the reduced result,
    * not the table. */
  private val scalingTables = Seq("customer", "supplier", "part", "orders", "lineitem")

  private def offendingHints(plan: LogicalPlan): Seq[String] =
    plan.collect { case h: ResolvedHint =>
      val reduced = h.child.collectFirst {
        case a: Aggregate => a
        case d: Deduplicate => d
        case l: GlobalLimit => l
      }.isDefined
      if (reduced) Nil
      else h.child.collect { case lr: LogicalRelation =>
        lr.relation match {
          case fs: HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
              .flatMap(p => scalingTables.filter(t => p.contains(s"/$t.parquet")))
          case _ => Nil
        }
      }.flatten
    }.flatten

  test("no registered plan broadcast-hints an unreduced scaling-table scan") {
    // Inverse of the old "q1 broadcasts supplier" pin: the 100 TB contract
    // (SCALE.md) is that customer/supplier/part/orders/lineitem are NEVER
    // hint-broadcast; AQE may still choose broadcast at small SF.
    val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, q) =>
      val df = q(spark, sfDir)
      offendingHints(df.queryExecution.analyzed).map(t => s"$name hints broadcast($t)")
    }
    spark.catalog.clearCache() // some entries cache intermediates at build time
    assert(bad.isEmpty, bad.mkString(", "))
  }

  test("clean chain: the ts range filter is pushed into the parquet scan") {
    val plan = planString(Transforms.cleanEvents(spark, sfDir))
    assert(plan.contains("PushedFilters: [IsNotNull(ts)")
      || plan.contains("PushedFilters: [*IsNotNull(ts)")
      || (plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual(ts")),
      plan.take(3000))
  }

  test("clean chain: pruned scan reads only referenced columns") {
    val plan = planString(Transforms.cleanEvents(spark, sfDir))
    // props/user_id are dropped before any use; the parquet ReadSchema
    // must not contain them
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("props") && !readSchema.contains("user_id"), readSchema)
  }

  test("stratified sample: the documents scan prunes the text column") {
    // the sample needs only (doc_id, lang, n_chars); reading `text` would
    // turn a metadata-cost filter into a full-corpus byte scan at 100 TB
    val plan = planString(graft.llm.Sampling.stratifiedSample(spark, sfDir))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.nonEmpty && !readSchema.contains("text"), readSchema)
  }

  test("q3b: the top-5 companies use TakeOrderedAndProject (true top-k, no full sort)") {
    val plan = planString(Queries.q3bWorstIssues(spark, sfDir))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
  }

  test("decontaminate: the benchmark check joins semi — no pair expansion") {
    // a semi-join emits each train posting at most once, so a hot
    // boilerplate n-gram cannot fan out quadratically (unlike the
    // inverted-index pair join, which needs the df cap for that)
    val plan = planString(graft.llm.Decontaminate.decontaminate(spark, sfDir))
    assert(plan.contains("LeftSemi"), plan.take(3000))
  }

  test("top terms: map-side partial counts and a true top-k, no global sort") {
    val plan = planString(graft.llm.TextAnalysis.corpusTopTerms(spark, sfDir))
    assert(plan.contains("partial_count"), plan.take(3000))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
  }

  test("quality gate: thresholds broadcast back; no data-sized group window") {
    val df = graft.llm.TextAnalysis.qualityGate(spark, sfDir)
    val plan = planString(df)
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    // kernel reuse contract (same audit as QuantilesSpec): every window
    // keys on the range-partition id or sits above the histogram Aggregate
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty)
    wins.foreach { w =>
      val onPid = w.partitionSpec.exists(_.references.exists(_.name == "_pid"))
      val aboveAgg = w.child.collectFirst { case a: Aggregate => a }.isDefined
      assert(onPid || aboveAgg,
        s"data-sized window partitioned by ${w.partitionSpec.mkString(", ")}")
    }
  }

  test("rollup: the whole hierarchy runs as ONE Expand pass, no nested loops") {
    val plan = planString(graft.analytics.Quantiles.rollupRevenue(spark, sfDir))
    assert(plan.contains("Expand"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  /** The executed plan WITHOUT the `== Initial Plan ==` echo AQE appends —
    * occurrence counts over the full string would double-count. */
  private def finalPlanString(df: DataFrame): String = {
    val full = planString(df)
    full.indexOf("== Initial Plan ==") match {
      case -1 => full
      case i => full.substring(0, i)
    }
  }

  test("grouping sets: one Expand pass over exactly 3 sets, no detail projection") {
    val plan = finalPlanString(graft.analytics.Quantiles.groupingSetsRevenue(spark, sfDir))
    val expandLines = plan.linesIterator.filter(_.contains("Expand [")).toSeq
    assert(expandLines.size == 1, plan.take(2000))
    // the Expand replicates 3× (two marginals + grand), never 4× (cube):
    // projections print as `Expand [[...], [...], [...]], [outputAttrs]` —
    // count separators inside the double-bracketed projections span only
    val line = expandLines.head
    val span = line.substring(line.indexOf("[["), line.indexOf("]]"))
    val nSets = "\\], \\[".r.findAllIn(span).size + 1
    assert(nSets == 3, line)
  }

  test("tfidf: tf counts per row (no token-stream aggregate); doc top-k is a doc_id window") {
    val df = graft.llm.TextAnalysis.tfidfTopTerms(spark, sfDir)
    val plan = finalPlanString(df)
    // r17: the token stream never aggregates — term frequencies come
    // from the native per-row term_counts kernel (the occurrence-stream
    // shuffle this entry used to pay is gone)
    assert(plan.contains("term_counts"), plan.take(3000))
    // the per-doc rank partitions on doc_id (maximal parallelism), and the
    // only nested-loop is the 1-row corpus-count broadcast
    assert(plan.contains("hashpartitioning(doc_id"), plan.take(3000))
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(bnl <= 1, plan.take(3000))
  }

  test("bigram pmi: adjacency is in-row (no token self-join); top-k, no global sort") {
    val plan = finalPlanString(graft.llm.TextAnalysis.bigramPmi(spark, sfDir))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    // two unigram-count joins + floored pair table: every join is hash or
    // broadcast-hash, never a sort of the token stream to find neighbors
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("sketch fingerprints are map stages: zero exchanges scan-to-signature") {
    // The r16 native kernels removed the explode+groupBy vote/min
    // shuffles — the fingerprint/signature/band frames must stay pure
    // projections over the scan (an Exchange here means the per-shingle
    // stream is being re-keyed again, the exact regression the native
    // expressions eliminated).
    val docs = Tables.documents(spark, sfDir)
    val sim = planString(
      graft.llm.Dedup.simhashFingerprints(graft.llm.Dedup.shinglesOf(docs), 1))
    assert(!sim.contains("Exchange"), sim.take(3000))
    assert(sim.contains("simhash_word"), sim.take(3000))
    val mh = planString(
      graft.llm.Dedup.minhashBands(graft.llm.Dedup.shinglesOf(docs)))
    assert(!mh.contains("Exchange"), mh.take(3000))
    assert(mh.contains("minhash_sig"), mh.take(3000))
  }

  test("tf is row-local: the term_counts cache builds with no exchange or aggregate") {
    // r17: both TF-IDF kernels count term frequencies per row (native
    // term_counts) and cache the resulting tf frame — an Exchange or
    // Aggregate inside that cache's build plan would mean the
    // duplicate-bearing occurrence stream is being shuffled again (the
    // exact regression the native kernel eliminated), and a missing
    // term_counts would mean someone reverted to the groupBy tf.
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    for (df <- Seq(graft.llm.TextAnalysis.tfidfTopTerms(spark, sfDir),
                   graft.llm.Dedup.tfidfCosinePairs(spark, sfDir))) {
      val caches = df.queryExecution.optimizedPlan.collect {
        case r: InMemoryRelation => r.cachedPlan.toString
      }
      // isolate the tf build: for top_terms the tf cache is the
      // top-level cache itself; the cosine kernel's w cache NESTS the tf
      // cache (its build text follows the last InMemoryRelation marker —
      // AQE hides nested physical nodes from collect, so slice the
      // string). Everything at-or-below the term_counts projection must
      // be generator/scan only: a hash/range exchange or any aggregate
      // there would be the occurrence shuffle coming back (the spread
      // round-robin repartition of the small test scan is the one
      // allowed exchange).
      val tfBuilds = caches.filter(_.contains("term_counts")).map { p =>
        val i = p.lastIndexOf("InMemoryRelation")
        if (i >= 0) p.substring(i) else p
      }.filter(_.contains("term_counts"))
      assert(tfBuilds.nonEmpty,
        s"expected a term_counts tf cache, saw:\n${caches.map(_.take(150)).mkString("\n")}")
      tfBuilds.foreach { p =>
        assert(!p.contains("Exchange hashpartitioning") &&
          !p.contains("Exchange rangepartitioning") && !p.contains("Aggregate"),
          s"tf cache build must be a pure generator stage:\n${p.take(2000)}")
      }
    }
    spark.catalog.clearCache()
    graft.RunScope.releaseAll()
  }

  test("session boundaries: one hash shuffle (the user window), filter after lag") {
    val df = graft.streaming.EventsStream.sessionBoundaries(spark, sfDir)
    df.collect()
    val full = df.queryExecution.executedPlan.toString
    val finalPlan = full.indexOf("== Initial Plan ==") match {
      case -1 => full
      case i => full.substring(0, i)
    }
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(finalPlan).size
    assert(hashExchanges == 1, s"saw $hashExchanges:\n${finalPlan.take(3000)}")
    assert(finalPlan.contains("hashpartitioning(user_id"), finalPlan.take(3000))
  }

  test("token budget: both prefix-sum consumers read the cached ranged frame") {
    val plan = planString(graft.llm.Sampling.tokenBudgetSelect(spark, sfDir))
    // local sums AND partition totals must scan the InMemoryRelation — a
    // second parquet scan would mean the range partitioning recomputed
    // (and could re-place rows) per consumer
    val cacheScans = "InMemoryTableScan".r.findAllIn(plan).size
    assert(cacheScans >= 2, s"expected both consumers on the cache, saw $cacheScans:\n${plan.take(3000)}")
  }

  test("ann_lsh / ann_ivf / topk: per-pair cosine uses the native kernel, not HOF folds") {
    for (q <- Seq(Similarity.embeddingAnnLsh(spark, sfDir),
                  Similarity.embeddingAnnIvf(spark, sfDir),
                  Similarity.embeddingTopk(spark, sfDir))) {
      val initial = q.queryExecution.executedPlan.toString
      assert(initial.contains("cosine_similarity"), initial.take(3000))
      // the interpreted HOF cosine would show up as aggregate(zip_with(...))
      assert(!initial.contains("zip_with"), initial.take(3000))
    }
  }

  test("scd2 point-in-time join: equi keys extracted, validity bounds are a residual filter") {
    val df = graft.warehouse.Scd.scd2PointInTimeJoin(spark, sfDir)
    val initial = df.queryExecution.executedPlan.toString
    // the whole point of the shape: Catalyst must key the join on custkey
    // (hash or sort-merge or broadcast HASH join) — if the interval
    // predicate swallowed the equi key this would degrade to a
    // BroadcastNestedLoopJoin / CartesianProduct, the 100 TB killer
    assert(!initial.contains("BroadcastNestedLoopJoin") &&
      !initial.contains("CartesianProduct"),
      s"point-in-time join lost its equi key:\n${initial.take(3000)}")
    assert(initial.contains("Join") || initial.contains("HashJoin") ||
      initial.contains("SortMergeJoin"), initial.take(2000))
  }

  test("seq gap audit: table window is bucket-partitioned; status filter pushed") {
    val df = graft.warehouse.Quality.seqGapCheck(spark, sfDir)
    val initial = df.queryExecution.executedPlan.toString
    // the only windows are (a) the intra-bucket lag PARTITIONED by bucket
    // and (b) the bucket-summary lag — never an unpartitioned lag over the
    // table scan (the naive global formulation the kernel exists to avoid)
    val specs = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(initial).map(_.group(1)).toSeq
    assert(specs.nonEmpty, initial.take(2000))
    val partitioned = specs.filter(_.contains("bucket"))
    assert(partitioned.nonEmpty,
      s"intra-bucket window lost its partition key:\n${specs.mkString("\n")}")
    // pushdown: the archival-status predicate reaches the parquet scan
    assert(initial.contains("PushedFilters") && initial.contains("o_orderstatus"),
      initial.take(3000))
  }

  test("fuzzy decontamination: band candidates join broadcast (test side is small)") {
    val df = graft.llm.Decontaminate.decontaminateFuzzy(spark, sfDir)
    val finalPlan = planString(df)
    assert(finalPlan.contains("BroadcastHashJoin"),
      s"test-side band join did not broadcast:\n${finalPlan.take(3000)}")
  }

  test("table profile: all 21 statistics come from ONE scan of the table") {
    val df = graft.warehouse.Quality.tableProfile(spark, sfDir)
    // pre-execution plan: AQE's final-plan string collapses materialized
    // stages into QueryStage references, hiding the Expand
    val initial = df.queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(initial).size
    assert(scans == 1, s"expected one documents scan, saw $scans:\n${initial.take(2000)}")
    // the multiple exact count(DISTINCT) aggregates plan as one Expand
    assert(initial.contains("Expand"), initial.take(2000))
  }

  test("native kNN: cosine kernel runs inside whole-stage codegen") {
    val df = Similarity.embeddingKnnNative(spark, sfDir)
    // pre-execution plan: AQE hasn't collapsed materialized stages yet, so
    // the full tree (incl. the cosine projection) is visible
    val initial = df.queryExecution.executedPlan.toString
    assert(initial.contains("cosine_similarity"), initial.take(3000))
    val finalPlan = planString(df)
    assert(finalPlan.contains("WholeStageCodegen") || finalPlan.contains("*("),
      finalPlan.take(2000))
  }

  test("cusum backtest: every row-level window is (type, month)-partitioned") {
    val df = graft.analytics.Stats.cusumAlerts(spark, sfDir)
    val initial = df.queryExecution.executedPlan.toString
    val specs = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(initial).map(_.group(1)).toSeq
    assert(specs.nonEmpty, initial.take(2000))
    // no window may be unpartitioned (a fact-sized single-task sort): the
    // row-level walks carry (event_type, month bucket), the summary carry
    // windows partition on event_type — every spec names a partition key
    specs.foreach { s =>
      assert(s.contains("event_type"),
        s"window lost its partition key: $s\n${specs.mkString("\n")}")
    }
    // the intra-bucket (row-level) windows exist and carry the bucket key
    assert(specs.exists(s => s.contains("b#")),
      s"no month-bucketed window found:\n${specs.mkString("\n")}")
  }

  test("brand skyline: bounded frontier broadcasts; windows stay brand-partitioned") {
    val df = graft.analytics.Windows.brandSkyline(spark, sfDir)
    val finalPlan = planString(df)
    assert(finalPlan.contains("BroadcastHashJoin"),
      s"frontier join-back did not broadcast:\n${finalPlan.take(3000)}")
    val initial = df.queryExecution.executedPlan.toString
    val specs = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(initial).map(_.group(1)).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("p_brand")),
      s"sweep window lost its brand partition:\n${specs.mkString("\n")}")
  }

  test("tpch q6: all three predicates pushed, 1-row reduce, no wide exchange") {
    val df = graft.analytics.Queries.tpchQ6Revenue(spark, sfDir)
    val initial = df.queryExecution.executedPlan.toString
    // the scan must carry pushed filters on every predicate column
    assert(initial.contains("PushedFilters"), initial.take(2000))
    Seq("l_shipdate", "l_discount", "l_quantity").foreach { c =>
      val pushed = initial.linesIterator
        .filter(_.contains("PushedFilters")).mkString
      assert(pushed.contains(c), s"$c not pushed:\n$pushed")
    }
    // scan reads only the needed columns — no full-width projection
    val readSchema = initial.linesIterator
      .filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_tax"),
      s"column pruning failed:\n$readSchema")
    // the only exchange is the final partial→1-row merge
    assert(!initial.contains("hashpartitioning"),
      s"unexpected wide exchange:\n${initial.take(2000)}")
  }

  test("tpch q1: one scan, partial aggregation before the exchange") {
    val df = graft.analytics.Queries.tpchQ1Pricing(spark, sfDir)
    val initial = df.queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(initial).size
    assert(scans == 1, s"expected one lineitem scan, saw $scans")
    assert(initial.contains("partial_sum"),
      s"map-side combine missing:\n${initial.take(2000)}")
    assert(initial.contains("PushedFilters") && initial.contains("l_shipdate"),
      initial.take(2000))
  }

  test("basket pairs: pairs, part counts, and totals all read the cached baskets") {
    val df = graft.analytics.Behavior.basketPartPairs(spark, sfDir)
    val initial = df.queryExecution.executedPlan.toString
    // every lineitem consumer goes through the cached basket frame (an
    // InMemoryTableScan per consumer — its string embeds the original
    // parquet scan, so raw "Scan parquet" counts don't prove anything;
    // the cache reads do): pairs + two per-part count sides + totals
    val cached = "InMemoryTableScan".r.findAllIn(initial).size
    assert(cached >= 3, s"basket frame not reused via cache:\n${initial.take(2000)}")
  }
}
