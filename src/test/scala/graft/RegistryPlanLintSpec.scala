package graft

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate, Expand, Filter, Generate, GlobalLimit, Join, LocalLimit, LocalRelation, LogicalPlan, OneRowRelation, Project, Range, RepartitionOperation, Sort, SubqueryAlias, Union, Window => LWindow}
import org.apache.spark.sql.execution.{CoalesceExec, ExpandExec, FilterExec, GlobalLimitExec, LocalTableScanExec, ProjectExec, SortExec, SparkPlan, TakeOrderedAndProjectExec, UnionExec}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}

/** Registry-WIDE physical-plan lint (VERDICT r14 #1): every entry in
  * `SparkEntry.queries` is planned and screened for the scale-killer
  * shapes the per-round manual plan audit used to hunt by hand —
  *
  *  1. `CartesianProductExec` / `BroadcastNestedLoopJoinExec` in the
  *     physical plan: at 100 TB an un-keyed join is quadratic unless one
  *     side is a bounded reduction (a global aggregate's 1 row, a
  *     LIMIT-capped frame, a k-row model artifact). Structurally-bounded
  *     cases pass automatically; everything else must be named in
  *     [[UnkeyedJoinWhitelist]] with its justification.
  *  2. Unpartitioned logical Windows over unreduced input: a window with
  *     an empty partitionSpec funnels its whole input through ONE task.
  *     Fine above an Aggregate (domain-bounded frame, e.g. the global
  *     RANK over HAVING-shrunk companies in q1) — a killer straight over
  *     a fact scan.
  *  3. Unbounded global Sorts: `ORDER BY` over input that reaches the
  *     sort unreduced (no Aggregate/Deduplicate/LIMIT below, no LIMIT
  *     above turning it into top-k). Presentation sorts over aggregates
  *     and `TakeOrderedAndProject` shapes pass automatically.
  *
  * The whitelists are EXACT: an entry that stops triggering its listed
  * shape fails the suite too, so the lists cannot rot into blanket
  * exemptions. PlanSpec keeps the deeper per-entry shape pins (pushdown,
  * exchange counts, cache reuse); this spec is the broad net that
  * guarantees a NEW registry entry cannot merge with a quadratic join or
  * a single-task sort nobody looked at.
  */
class RegistryPlanLintSpec extends SparkSpec {

  /** Entries allowed to plan an un-keyed join (CartesianProduct /
    * BroadcastNestedLoopJoin) even after the structural bounded-side
    * screen. Each carries the documented reason; all are the exact
    * all-pairs truth baselines whose sketch alternatives are separate
    * green entries (SCALE.md "exact baselines"). */
  private val UnkeyedJoinWhitelist: Map[String, String] = Map(
    "embedding_topk" -> "documented O(n²) exact-cosine truth baseline (Similarity.scala embeddingTopk); scale path = embedding_ann_lsh/ivf",
    "embedding_knn_native" -> "documented O(n²) exact kNN baseline on the native cosine kernel; scale path = embedding_ann_lsh / ivf_index_search",
    "embedding_cosine_dedup" -> "documented O(n²) exact near-dup baseline; scale path = embedding_lsh_dedup",
    "knn_label_vote" -> "documented exact kNN vote baseline over the bounded labeled set"
  )

  /** Entries allowed an unpartitioned Window whose input the
    * key-cardinality screen cannot prove bounded. Until r15 the screen
    * accepted ANY Aggregate below the window; now grouping keys must be
    * domain-bounded, which surfaces these — each is a REAL single-task
    * funnel, listed with why it is accepted rather than fixed: the
    * reference-inherent global ranks over HAVING-shrunk company
    * aggregates (supplier-dimension cardinality, sf×10k — W1 in SURVEY
    * §2, the semantics the reference queries demand). */
  private val GlobalWindowWhitelist: Map[String, String] = Map(
    "q1_ratio_rank" -> "reference W1: global RANK over the HAVING-shrunk per-company aggregate (supplier-dim cardinality)",
    "q1b_disputed_rank" -> "reference W1 variant: same HAVING-shrunk per-company frame",
    "q1c_companies" -> "reference U2: four global ranks over the same per-company aggregate",
    "q2_state_ratios" -> "reference J5: the q1c rank frame reused before the state rollup",
    "q3a_cf_view" -> "reference J5/A6: the q1c rank frame feeding the CF view")
  // Global ranks, prefix sums and surrogate keys over unbounded input
  // (customer_percentiles, gini_spend, mann_whitney_value,
  // spearman_value_hour, company_dim, scd2_resolution, ...) ride
  // Tables.globalRunningSum's two-phase _pid kernel, whose only window is
  // over the _pid-grouped partition totals, so none needs an entry here.

  /** Entries allowed an unbounded global Sort. */
  private val GlobalSortWhitelist: Map[String, String] = Map.empty

  /** Columns whose value domains are bounded by the DATA MODEL, not the
    * row count: dimension keys/names with enumerated domains, enum-like
    * flags, and bucket/band ids capped by construction. Grouping on only
    * these collapses cardinality to a domain size no matter how many fact
    * rows flow in — grouping on `user_id`/`doc_id`/`o_orderkey` does NOT
    * (their cardinality grows with the data), which is exactly the blind
    * spot VERDICT r15 flagged in the old any-Aggregate-is-bounded rule. */
  private val BoundedDomainCols: Set[String] = Set(
    // star-schema enumerated domains
    "r_regionkey", "r_name", "n_nationkey", "n_name", "n_regionkey",
    "nationkey", "c_nationkey", "c_mktsegment", "s_nationkey",
    "p_brand", "p_type", "p_size",
    "l_returnflag", "l_linestatus", "l_linenumber",
    "o_orderstatus", "o_orderpriority",
    "event_type", "lang", "source", "label", "k_parity",
    // calendar-domain columns/fields: a DATE column's distinct-value
    // count is bounded by the corpus' calendar span (thousands of days),
    // not its row count — unlike an id column
    "o_orderdate", "l_shipdate",
    "year", "month", "day", "dow", "week", "quarter", "hour", "window",
    "hour_start", "day_start", "month_start",
    // capped bucket ids produced by graft kernels; _pid is
    // spark_partition_id() — domain = the cluster's partition count, the
    // backbone of the two-phase prefix-sum kernels
    "band", "cell", "bucket", "bin", "_pid")

  private def baseName(n: String): String =
    n.substring(n.lastIndexOf('.') + 1).toLowerCase(java.util.Locale.ROOT)

  /** A grouping expression has a bounded output domain when every
    * attribute it references is bounded-domain (bounded inputs compose to
    * a bounded output), or when the expression itself caps its range
    * regardless of input: a modulus against a literal (hash-bucket /
    * band / cell ids) or a calendar-field extraction. */
  private def boundedExpr(e: Expression): Boolean = e match {
    case Pmod(_, Literal(_, _), _) => true
    case Remainder(_, Literal(_, _), _) => true
    case _: Year | _: Month | _: Quarter | _: DayOfMonth | _: DayOfWeek |
        _: WeekDay | _: WeekOfYear | _: DayOfYear | _: Hour | _: Minute => true
    case _: TruncDate | _: TruncTimestamp => true
    case Cast(c, _, _, _) => boundedExpr(c)
    case a: Alias => boundedExpr(a.child)
    case _ =>
      e.references.forall(a => BoundedDomainCols.contains(baseName(a.name)))
  }

  private def boundedGrouping(keys: Seq[Expression]): Boolean =
    keys.forall(boundedExpr)

  /** Grouping keys are often plain attribute refs to an alias in the
    * Project directly below (the optimizer's PullOutGroupingExpressions
    * emits `_groupingexpression` aliases; user code projects
    * `date_trunc(...) AS hour_start` first; a Union's output attrs come
    * from its first branch) — expand ONE level of those aliases so
    * [[boundedExpr]] can see the defining expression. */
  private def aliasMap(p: LogicalPlan): Map[ExprId, Expression] = p match {
    case Project(projList, _) =>
      projList.collect { case al: Alias => al.exprId -> al.child }.toMap
    case u: Union => aliasMap(u.children.head)
    case _ => Map.empty
  }

  private def resolveKeys(keys: Seq[Expression], child: LogicalPlan): Seq[Expression] = {
    val aliases = aliasMap(child)
    if (aliases.isEmpty) keys
    else keys.map(_.transformUp {
      case ar: AttributeReference if aliases.contains(ar.exprId) =>
        aliases(ar.exprId)
    })
  }

  /** Bounded DIMENSION TABLES: a raw scan whose every output column
    * belongs to the nation/region schemas is a scan of an enumerated
    * domain (25 / 5 rows by the data model) — bounded without any
    * reduction above it. */
  private val BoundedTableCols: Set[String] = Set(
    "r_regionkey", "r_name", "n_nationkey", "n_name", "n_regionkey")

  /** A subtree counts as bounded when a node that provably collapses
    * cardinality to a domain/artifact size is reachable through
    * CARDINALITY-PRESERVING nodes only: a global aggregate (1 row), a
    * grouped Aggregate/Deduplicate whose keys are all bounded-domain, an
    * explicit LIMIT, or a local/1-row relation (broadcast literals,
    * collected k-row model artifacts). The walk stops at joins unless
    * BOTH sides are bounded and at generators (explode multiplies rows) —
    * the old collectFirst-anywhere version let an Aggregate buried under
    * one side of an unreduced fact branch vouch for the whole subtree
    * (ADVICE r15). An Aggregate grouping on an unbounded key (user_id,
    * doc_id) is itself no bound, but its CHILD may still be. */
  private def bounded(p: LogicalPlan): Boolean = p match {
    case a: Aggregate =>
      // raw names OR alias-resolved (resolution can only help when the
      // defining expression is visibly bounded — a bounded-named bucket
      // attr like `window` whose definition references raw ts must not
      // LOSE its bound to the expansion)
      boundedGrouping(a.groupingExpressions) ||
        boundedGrouping(resolveKeys(a.groupingExpressions, a.child)) ||
        bounded(a.child)
    case d: Deduplicate =>
      boundedGrouping(d.keys) ||
        boundedGrouping(resolveKeys(d.keys, d.child)) || bounded(d.child)
    case _: GlobalLimit => true
    case _: LocalRelation | _: OneRowRelation => true
    case leaf: org.apache.spark.sql.catalyst.plans.logical.LeafNode
        if leaf.output.nonEmpty &&
          leaf.output.forall(a => BoundedTableCols.contains(baseName(a.name))) =>
      true
    // a static Range is a generated sequence (dim builds) — bounded when
    // its element count is a domain size, not a fact-table size
    case r: Range => r.numElements <= BigInt(10000000)
    // explode over an already-bounded input (calendar sequences from a
    // 1-row relation) expands by a bounded factor; over a fact scan the
    // child is unbounded and the walk stops anyway
    case g: Generate => bounded(g.child)
    case j: Join => bounded(j.left) && bounded(j.right)
    case u: Union => u.children.forall(bounded)
    case n @ (_: Project | _: Filter | _: Sort | _: LWindow | _: LocalLimit |
        _: SubqueryAlias | _: RepartitionOperation | _: Expand) =>
      n.children.forall(bounded)
    case _ => false
  }

  /** Physical twin of [[bounded]], same reachability discipline: an
    * Aggregate with bounded-domain (or empty) grouping keys, a LIMIT /
    * top-k, or a local-relation scan reachable through
    * cardinality-preserving operators caps the side's cardinality, so an
    * un-keyed join against it ships a bounded inner, not a quadratic
    * blow-up. (`sparkPlan` is pre-preparation: no exchanges or
    * whole-stage-codegen wrappers to walk through.) */
  private def boundedPhys(p: SparkPlan): Boolean = p match {
    case a: HashAggregateExec =>
      boundedGrouping(a.groupingExpressions) || boundedPhys(a.child)
    case a: SortAggregateExec =>
      boundedGrouping(a.groupingExpressions) || boundedPhys(a.child)
    case a: ObjectHashAggregateExec =>
      boundedGrouping(a.groupingExpressions) || boundedPhys(a.child)
    case _: GlobalLimitExec | _: TakeOrderedAndProjectExec |
        _: LocalTableScanExec => true
    case i: InMemoryTableScanExec => boundedPhys(i.relation.cachedPlan)
    case j: BaseJoinExec => boundedPhys(j.left) && boundedPhys(j.right)
    case u: UnionExec => u.children.forall(boundedPhys)
    case n @ (_: ProjectExec | _: FilterExec | _: SortExec | _: CoalesceExec |
        _: ExpandExec) =>
      n.children.forall(boundedPhys)
    case _ => false
  }

  private def unkeyedJoins(phys: SparkPlan): Seq[String] =
    phys.collect {
      case c: CartesianProductExec
          if !boundedPhys(c.left) && !boundedPhys(c.right) =>
        "CartesianProduct"
      case b: BroadcastNestedLoopJoinExec
          if !boundedPhys(b.left) && !boundedPhys(b.right) =>
        "BroadcastNestedLoopJoin"
    }

  /** The first 14 lines of a flagged node's child subtree, each cut to
    * 150 characters: enough of the input's shape to tell bounded from
    * unbounded when a failure is read. */
  private def subtree(child: LogicalPlan): String =
    child.treeString.linesIterator.take(14).map(l => "    " + l.take(150)).mkString("\n")

  /** Windows with an empty partitionSpec whose input is not already
    * reduced — the single-task funnel — each with its child's subtree. */
  private def globalWindows(opt: LogicalPlan): Seq[(String, String)] =
    opt.collect {
      case w: LWindow if w.partitionSpec.isEmpty && !bounded(w.child) =>
        s"global Window(${w.windowExpressions.map(_.name).mkString(",")})" -> subtree(w.child)
    }

  /** INTERIOR global Sorts over unreduced input: a global sort is a
    * parallel range-partitioned shuffle+sort (not a single-task funnel),
    * so a ROOT presentation `ORDER BY` — which most entries carry for
    * deterministic oracle comparison — is legitimate. What this flags is
    * an unbounded global sort feeding FURTHER computation: an algorithm
    * leaning on a total order mid-plan is the shape that should have been
    * a window/partition-local sort/top-k instead. Sorts under a LIMIT
    * (planned as top-k) pass automatically. */
  private def unboundedSorts(opt: LogicalPlan): Seq[(String, String)] = {
    import org.apache.spark.sql.catalyst.plans.logical.{LocalLimit, Project}
    def walk(p: LogicalPlan, limited: Boolean, atRoot: Boolean): Seq[(String, String)] = p match {
      case g: GlobalLimit => g.children.flatMap(walk(_, limited = true, atRoot = false))
      // GlobalLimit(LocalLimit(Project(Sort))) is Spark's top-k shape
      // (TakeOrderedAndProject) — the flag must survive the LocalLimit
      // and any Project between the limit and its sort
      case l: LocalLimit => l.children.flatMap(walk(_, limited, atRoot = false))
      case pr: Project if limited =>
        pr.children.flatMap(walk(_, limited = true, atRoot = false))
      // the presentation sort survives Project/column-prune wrappers
      case pr: Project if atRoot => pr.children.flatMap(walk(_, limited, atRoot = true))
      case s: Sort if s.global && !limited && !atRoot && !bounded(s.child) =>
        (s"interior unbounded global Sort(${s.order.map(_.child.sql).mkString(",")})" ->
          subtree(s.child)) +:
          s.children.flatMap(walk(_, limited = false, atRoot = false))
      case s: Sort if atRoot =>
        s.children.flatMap(walk(_, limited = false, atRoot = false))
      case other => other.children.flatMap(walk(_, limited = false, atRoot = false))
    }
    walk(opt, limited = false, atRoot = true)
  }

  test("every registered plan is free of unwhitelisted scale-killer shapes") {
    val hits = scala.collection.mutable.Map.empty[String, Seq[String]]
    val failures = Seq.newBuilder[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, q) =>
      val df = q(spark, sfDir)
      // each hit with the child subtree a failure prints (joins: none)
      val detailed =
        unkeyedJoins(df.queryExecution.sparkPlan).map(j => s"join:$j" -> "") ++
          globalWindows(df.queryExecution.optimizedPlan).map { case (w, t) => s"window:$w" -> t } ++
          unboundedSorts(df.queryExecution.optimizedPlan).map { case (s, t) => s"sort:$s" -> t }
      val found = detailed.map(_._1)
      if (found.nonEmpty) hits(name) = found
      def report(kind: String): String =
        detailed.collect {
          case (h, t) if h.startsWith(kind) => if (t.isEmpty) h else s"$h\n$t"
        }.mkString(", ")
      val joinsHit = found.exists(_.startsWith("join:"))
      val winsHit = found.exists(_.startsWith("window:"))
      val sortsHit = found.exists(_.startsWith("sort:"))
      if (joinsHit && !UnkeyedJoinWhitelist.contains(name))
        failures += s"$name: ${report("join:")}"
      if (winsHit && !GlobalWindowWhitelist.contains(name))
        failures += s"$name: ${report("window:")}"
      if (sortsHit && !GlobalSortWhitelist.contains(name))
        failures += s"$name: ${report("sort:")}"
    }
    spark.catalog.clearCache() // some entries cache intermediates at build time
    val bad = failures.result()
    assert(bad.isEmpty,
      s"scale-killer plan shapes outside the whitelist:\n${bad.mkString("\n")}")
    // the whitelists are exact — a listed entry that no longer plans the
    // shape is stale and must be removed, not silently kept as a blanket
    // pass for future regressions
    val staleJoin = UnkeyedJoinWhitelist.keys.filterNot(n =>
      hits.get(n).exists(_.exists(_.startsWith("join:"))))
    val staleWin = GlobalWindowWhitelist.keys.filterNot(n =>
      hits.get(n).exists(_.exists(_.startsWith("window:"))))
    val staleSort = GlobalSortWhitelist.keys.filterNot(n =>
      hits.get(n).exists(_.exists(_.startsWith("sort:"))))
    assert(staleJoin.isEmpty && staleWin.isEmpty && staleSort.isEmpty,
      s"stale whitelist entries (shape no longer planned): " +
        s"join=${staleJoin.mkString(",")} window=${staleWin.mkString(",")} sort=${staleSort.mkString(",")}")
    // and every whitelisted name must still be a registry entry
    val unknown = (UnkeyedJoinWhitelist.keys ++ GlobalWindowWhitelist.keys ++
      GlobalSortWhitelist.keys).filterNot(SparkEntry.queries.contains)
    assert(unknown.isEmpty, s"whitelisted names not in registry: ${unknown.mkString(",")}")
  }
}
