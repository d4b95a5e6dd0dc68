package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** Whole-library physical-plan lint: the structural "would this survive
  * 100x" properties PLANS.md argues query-by-query, asserted mechanically
  * over EVERY registered query (PlanLintSpec) so a future query can't
  * ship a scale-killer plan unnoticed. Three rules:
  *
  *  1. No Cartesian product: `CartesianProductExec` anywhere, or a
  *     condition-free nested-loop join whose BOTH sides read data-plane
  *     input, is O(n*m) at scale.
  *  2. No unbounded single-partition Exchange: `Exchange SinglePartition`
  *     serializes the cluster to one task. It is only acceptable when the
  *     rows entering it are provably bounded: a partial (no-grouping)
  *     aggregate (<= one row per upstream partition), a LocalLimit
  *     (<= limit rows per partition), a final aggregate grouped only on
  *     synthetic `__`-prefixed bucket keys (the scalableRowNumber
  *     contract: <= #buckets rows), or a subtree with no data-plane leaf
  *     at all. Anything else — canonically a window with no PARTITION BY
  *     over a table — must carry a per-query allowlist entry with a
  *     written justification.
  *  3. Pushdown reaches the scan: a parquet/file scan whose remaining
  *     `dataFilters` contain a source-translatable comparison (attribute
  *     vs literal) but whose `PushedFilters` metadata is empty has lost
  *     predicate pushdown — at 100 TB that is the difference between
  *     pruned row groups and a full-table read.
  *
  * Run the lint against plans built with AQE and whole-stage codegen
  * DISABLED: AQE wraps the tree in AdaptiveSparkPlanExec (exchanges not
  * yet materialized in the initial tree) and codegen inserts
  * WholeStageCodegen/InputAdapter wrappers — both only obscure the
  * structure being checked ([[lintSession]] builds a correctly-configured
  * session). Queries that execute eagerly during construction (the
  * iterative recursion fixpoint) are linted on their final visible plan;
  * their per-level join shape is separately guarded by
  * PlanRegressionSpec.
  */
object PlanLint {

  final case class Violation(query: String, rule: String, detail: String) {
    override def toString = s"[$rule] $query: $detail"
  }

  /** An allowlist entry: at most `maxNodes` matching nodes are excused
    * in the named query — a SECOND unrelated violation of the same rule
    * still fails the gate — with the human justification the judge can
    * audit. Adding or widening an entry is a code-reviewed act.
    */
  final case class Allowance(maxNodes: Int, why: String)

  /** Queries allowed to carry a single-partition exchange that rule 2
    * can't prove bounded.
    */
  val BoundedSinglePartitionAllowlist: Map[String, Allowance] = Map(
    "q_window_surrogate_key" -> Allowance(1,
      "demo of the naive ROW_NUMBER() surrogate key over the 25-row " +
        "Excel fixture; the scalable two-phase form (q_surrogate_key_" +
        "scalable) is the production path"),
    "q_text_quality_auc" -> Allowance(1,
      "cumulative walk over the SCORE-BUCKET aggregate, whose group " +
        "key floor(quality*1e6) has a bounded domain of <= 1e6+1 rows " +
        "at any corpus size; the structural rule sees a keyed " +
        "aggregate and cannot prove the key-domain bound"))

  /** Queries allowed condition-free broadcast nested-loop joins whose
    * build side rule 1 can't prove reduced. All five are the IVF family:
    * the broadcast side is the capped modulo-sampled centroid slice
    * (nlist <= 1024 by the vec_id bound in SimQueries.centSample — a
    * Filter, which the structural rule can't distinguish from an
    * unbounded scan), so each crossJoin is n x nlist with constant
    * nlist. Node caps = the audited count of centroid crossJoins
    * (trained variants assign twice: Lloyd seed + final assignment).
    */
  val BoundedBroadcastCrossAllowlist: Map[String, Allowance] = {
    val why = "broadcast side = capped centroid sample (<= 1024 rows, " +
      "SimQueries.centSample); assignment crossJoin is n x nlist with " +
      "constant nlist — the standard IVF build"
    Map(
      "q_sim_ann_ivf" -> Allowance(1, why),
      "q_sim_ann_ivf_recall" -> Allowance(1, why),
      "q_sim_ann_ivf_trained" -> Allowance(2, why),
      "q_sim_ann_ivf_recall_trained" -> Allowance(2, why),
      "q_sim_ann_ivfpq_trained" -> Allowance(2, why),
      // the kNN-graph rows widen the probe side to all vectors but the
      // crossJoin count and its bound are unchanged (assign + probe
      // against the <= 1024-row trained centroid frame)
      "q_sim_knn_graph" -> Allowance(2, why),
      "q_sim_knn_graph_recall" -> Allowance(2, why),
      // the incremental row's corpus training/assignment are memoized
      // eager checkpoints; only the batch-probe crossJoin against the
      // broadcast centroid frame remains in the visible plan
      "q_dedup_semantic_incremental" -> Allowance(1, why),
      // the nprobe A/B eval widens the same batch-probe crossJoin to
      // rk <= 5 — still one crossJoin against the checkpointed corpus
      // centroids (its truth-side batch x corpus join carries a
      // condition, so rule 1 never sees it)
      "q_dedup_semantic_incr_probe_eval" -> Allowance(1, why))
  }

  /** Excuse up to `allow(name).maxNodes` violations; the overflow still
    * fails. Violations beyond the cap keep their original details.
    */
  private def applyAllowance(name: String, vs: Seq[Violation],
                             allow: Map[String, Allowance]): Seq[Violation] =
    allow.get(name) match {
      case Some(a) => vs.drop(a.maxNodes)
      case None => vs
    }

  /** A session derived from `base` with the lint's required plan shape:
    * no AQE wrapper, no codegen wrappers. The rest of the conf (nanos
    * parquet reads included) is the one [[graft.Session]] built `base`
    * with.
    */
  def lintSession(base: SparkSession): SparkSession = {
    val s = base.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.codegen.wholeStage", "false")
    s
  }

  def lint(name: String, df: DataFrame): Seq[Violation] =
    lintPlan(name, df.queryExecution.executedPlan)

  def lintPlan(name: String, plan: SparkPlan): Seq[Violation] =
    cartesianRule(name, plan) ++ singlePartitionRule(name, plan) ++
      pushdownRule(name, plan)

  /** Post-execution lint: materialize the frame under its NORMAL
    * session (AQE on), then apply rules 1-2 to the runtime-final plan —
    * the one that actually ran, after AQE's re-optimizations. The
    * static lint deliberately disables AQE to see clean structure, but
    * that also blinds it to runtime re-plans (a join strategy revised
    * from runtime stats, skew splits, coalesced readers); this pass
    * closes that gap for every registered query (PlanLintSpec). Rule 3
    * stays static-only: pushdown is fixed at planning time, AQE never
    * changes it.
    */
  def lintExecuted(name: String, df: DataFrame): Seq[Violation] = {
    df.queryExecution.toRdd.count() // drives AQE to its final plan
    val p = unwrapRuntime(df.queryExecution.executedPlan)
    cartesianRule(name, p) ++ singlePartitionRule(name, p)
  }

  /** Splice query-stage bodies back into one inspectable tree: in the
    * adaptive runtime plan every exchange boundary is a leaf
    * `QueryStageExec` wrapping the materialized subtree, so a plain
    * `collect` would see none of the joins/exchanges inside. Reused
    * exchanges stay leaves — their subtree is linted once, where the
    * original stage lives, and double-splicing would double-count
    * violations against the node-capped allowlists.
    */
  private def unwrapRuntime(p: SparkPlan): SparkPlan = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      unwrapRuntime(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      unwrapRuntime(q.plan)
    case other => other.withNewChildren(other.children.map(unwrapRuntime))
  }

  // ---- rule 1: Cartesian products -----------------------------------

  private def cartesianRule(name: String, plan: SparkPlan): Seq[Violation] = {
    val hard = plan.collect {
      case c: CartesianProductExec =>
        Violation(name, "cartesian", s"CartesianProductExec: ${c.simpleStringWithNodeId()}")
    }
    // a deliberate broadcast-cross of a DERIVED small table (the IVF
    // centroid pattern: probes x broadcast(aggregated centroids)) is
    // the correct plan — the build side then contains an aggregate or
    // limit between the broadcast and its scans. A raw-scan build side
    // is a real Cartesian hiding behind a broadcast hint unless an
    // audited allowlist entry (with a node cap) explains its bound.
    val bnlj = plan.collect {
      case j: BroadcastNestedLoopJoinExec
          if j.condition.isEmpty && hasDataPlaneLeaf(j.left) && hasDataPlaneLeaf(j.right)
            && !hasCardinalityReducer(buildSideOf(j)) =>
        Violation(name, "cartesian",
          "condition-free BroadcastNestedLoopJoin whose broadcast side is " +
            "a raw data-plane scan (no aggregate/limit reduces it)")
    }
    hard ++ applyAllowance(name, bnlj, BoundedBroadcastCrossAllowlist)
  }

  private def buildSideOf(j: BroadcastNestedLoopJoinExec): SparkPlan =
    j.buildSide match {
      case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
      case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
    }

  private def hasCardinalityReducer(p: SparkPlan): Boolean =
    p.find {
      case _: HashAggregateExec | _: SortAggregateExec | _: ObjectHashAggregateExec => true
      case _: LocalLimitExec | _: GlobalLimitExec | _: TakeOrderedAndProjectExec => true
      case _ => false
    }.isDefined

  // ---- rule 2: single-partition exchanges ---------------------------

  private def singlePartitionRule(name: String, plan: SparkPlan): Seq[Violation] =
    applyAllowance(name,
      plan.collect {
        case e: ShuffleExchangeExec
            if e.outputPartitioning == SinglePartition && !boundedInput(e.child) =>
          Violation(name, "single-partition",
            "Exchange SinglePartition over unbounded data-plane input " +
              s"(child: ${e.child.simpleString(200)}); partition the " +
              "window/operator or add an audited allowlist entry")
      },
      BoundedSinglePartitionAllowlist)

  /** Rows entering the exchange are bounded if the first
    * cardinality-changing node below it provably caps them, or the
    * subtree never touches data-plane input at all. Codegen and AQE
    * reader wrappers are unwrapped first: the static lint session
    * disables codegen, but the post-execution pass ([[lintExecuted]])
    * lints plans from the normal session where WholeStageCodegen /
    * AQEShuffleRead sit between the exchange and the node that proves
    * the bound.
    */
  private def boundedInput(p0: SparkPlan): Boolean =
  unwrapTransitions(p0) match {
    // row-preserving / row-reducing wrappers: look through
    case p @ (_: ProjectExec | _: FilterExec | _: SortExec) =>
      boundedInput(p.children.head)
    case r: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec =>
      boundedInput(r.child)
    case agg: HashAggregateExec => boundedAgg(agg.groupingExpressions)
    case agg: SortAggregateExec => boundedAgg(agg.groupingExpressions)
    case agg: ObjectHashAggregateExec => boundedAgg(agg.groupingExpressions)
    case _: LocalLimitExec | _: GlobalLimitExec | _: TakeOrderedAndProjectExec => true
    case other => !hasDataPlaneLeaf(other)
  }

  /** An aggregate bounds the exchange if it has no grouping keys (the
    * global-aggregate partial/final pattern: one row per partition) or
    * groups ONLY on synthetic `__`-prefixed bucket keys (the two-phase
    * scalableRowNumber contract — cardinality = #buckets by
    * construction, GoldIntegration.scala).
    */
  private def boundedAgg(grouping: Seq[NamedExpression]): Boolean =
    grouping.isEmpty || grouping.forall(_.name.startsWith("__"))

  private def hasDataPlaneLeaf(p: SparkPlan): Boolean =
    p.collectLeaves().exists {
      case _: FileSourceScanExec => true
      case _: BatchScanExec => true
      case _: RDDScanExec => true       // checkpointed/foreign RDDs: unbounded
      case _: ExternalRDDScanExec[_] => true
      // a cached table is as unbounded as what was cached — without this
      // every persisted/memoized frame (the q_ref_* pipeline) would be
      // vacuously exempt from rules 1-2
      case _: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => true
      case _ => false                   // Range, LocalTableScan, reused exchanges
    }

  // ---- rule 3: pushdown reaches the scan ----------------------------

  private def pushdownRule(name: String, plan: SparkPlan): Seq[Violation] =
    plan.collect {
      // 3a: the scan collected filters but none survived translation —
      // a file-format/source regression (cannot happen by mere session
      // conf for the built-in v1 sources; kept as a tripwire).
      case scan: FileSourceScanExec
          if scan.dataFilters.exists(translatable)
            && scan.metadata.getOrElse("PushedFilters", "[]") == "[]" =>
        Seq(Violation(name, "pushdown",
          s"scan of ${scan.metadata.getOrElse("Location", "?").take(120)} has " +
            s"translatable dataFilters ${scan.dataFilters.mkString(", ").take(120)} " +
            "but an empty PushedFilters block"))
      // 3b: a pushable predicate never REACHED the scan: a FilterExec
      // sits directly above a scan that collected no dataFilters at all,
      // yet carries a deterministic translatable conjunct over scan
      // columns. Spark's own planner can't currently produce this shape
      // (ScanOperation collects every deterministic conjunct into
      // dataFilters) — the rule guards custom strategies, custom
      // sources, and future planner changes (PlanLintSpec proves it
      // fires on the hand-built shape).
      case f: FilterExec =>
        unwrapTransitions(f.child) match {
          case scan: FileSourceScanExec
              if scan.dataFilters.isEmpty
                && splitAnd(f.condition).exists(c =>
                  c.deterministic && translatable(c)
                    && c.references.subsetOf(scan.outputSet)) =>
            Seq(Violation(name, "pushdown",
              s"pushable conjunct(s) of [${f.condition.sql.take(120)}] never " +
                "reached the scan (dataFilters empty) — likely trapped " +
                "behind a non-deterministic conjunct"))
          case _ => Nil
        }
    }.flatten

  private def unwrapTransitions(p: SparkPlan): SparkPlan = p match {
    case c: ColumnarToRowExec => unwrapTransitions(c.child)
    case i: InputAdapter => unwrapTransitions(i.child)
    case w: WholeStageCodegenExec => unwrapTransitions(w.child)
    case _ => p
  }

  private def splitAnd(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitAnd(l) ++ splitAnd(r)
    case x => Seq(x)
  }

  /** Conservative mirror of DataSourceStrategy.translateFilter: shapes
    * every file source can push. If one of these sits in dataFilters but
    * PushedFilters is empty, pushdown was genuinely lost (not merely an
    * untranslatable predicate).
    */
  private def translatable(e: Expression): Boolean = e match {
    case BinaryComparison(_: AttributeReference, _: Literal) => true
    case BinaryComparison(_: Literal, _: AttributeReference) => true
    case IsNull(_: AttributeReference) => true
    case IsNotNull(_: AttributeReference) => true
    case In(_: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) => true
    case InSet(_: AttributeReference, _) => true
    case StartsWith(_: AttributeReference, _: Literal) => true
    case And(l, r) => translatable(l) || translatable(r)
    case Or(l, r) => translatable(l) && translatable(r)
    case Not(c) => translatable(c)
    case _ => false
  }
}
