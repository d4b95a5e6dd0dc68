package graft

import graft.plans.PlanLint
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.control.NonFatal

/** The whole-library plan gate: every registered query's physical plan
  * passes PlanLint's structural 100x rules (no Cartesian, no unbounded
  * single-partition exchange, pushdown reaching filtered scans) — and
  * the lint is proven non-vacuous by seeded bad plans that must go red.
  * PlanRegressionSpec keeps the sharper per-query shape assertions; this
  * spec is the safety net that covers queries nobody hand-audited.
  */
class PlanLintSpec extends AnyFunSuite with SparkTestBase {

  private val dir = "/root/testdata/sf0.001"
  private lazy val lintSpark = PlanLint.lintSession(spark)

  /** `lint` over every registered query built on `session`. A query
    * that fails to build is a named violation, and the lint goes on to
    * the queries after it.
    */
  private def lintRegistry(session: SparkSession)(
      lint: (String, DataFrame) => Seq[PlanLint.Violation]) =
    SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try lint(name, fn(session, dir))
      catch { case NonFatal(e) =>
        Seq(PlanLint.Violation(name, "construction", String.valueOf(e.getMessage)))
      }
    }

  test("every registered query passes the plan lint") {
    val violations = lintRegistry(lintSpark)(PlanLint.lint)
    assert(violations.isEmpty,
      "plan lint violations:\n" + violations.mkString("\n"))
  }

  test("allowlists only name registered queries (no stale entries)") {
    val known = SparkEntry.queries.keySet
    val stale = (PlanLint.BoundedSinglePartitionAllowlist.keySet
      ++ PlanLint.BoundedBroadcastCrossAllowlist.keySet) -- known
    assert(stale.isEmpty, s"allowlisted but not registered: $stale")
  }

  // ---- seeded bad plans: the lint must be demonstrably red ----------

  private def lineitem = lintSpark.read
    .parquet(s"$dir/lineitem.parquet")

  test("lint flags a crossJoin of two data-plane tables") {
    val bad = lineitem.crossJoin(
      lintSpark.read.parquet(s"$dir/orders.parquet"))
    val vs = PlanLint.lint("seeded_cross", bad)
    assert(vs.exists(_.rule == "cartesian"), vs.mkString("\n"))
  }

  test("lint flags an unpartitioned window over a data-plane table") {
    val bad = lineitem.withColumn("rn",
      row_number().over(Window.orderBy(col("l_orderkey"))))
    val vs = PlanLint.lint("seeded_window", bad)
    assert(vs.exists(_.rule == "single-partition"), vs.mkString("\n"))
    // a CACHED table is as unbounded as what was cached — the same bad
    // window over a persisted scan must flag too (InMemoryTableScan is
    // a data-plane leaf)
    val cached = lintSpark.read.parquet(s"$dir/lineitem.parquet").persist()
    try {
      val badCached = cached.withColumn("rn",
        row_number().over(Window.orderBy(col("l_orderkey"))))
      assert(PlanLint.lint("seeded_cached_window", badCached)
        .exists(_.rule == "single-partition"))
    } finally cached.unpersist()
  }

  test("allowance cap: a second violation in an allowlisted query still fails") {
    // q_window_surrogate_key's allowance covers exactly ONE audited
    // single-partition node; the first seeded window is excused, a
    // second unrelated one must surface
    val one = lineitem.withColumn("rn",
      row_number().over(Window.orderBy(col("l_orderkey"))))
    assert(PlanLint.lint("q_window_surrogate_key", one).isEmpty)
    // two INDEPENDENT unpartitioned windows (a chained second window
    // reuses the first's single-partition distribution — no new node)
    val a = one.select(col("l_orderkey"), col("rn"))
    val b = lineitem.withColumn("rn",
      row_number().over(Window.orderBy(col("l_partkey"))))
      .select(col("l_orderkey"), col("rn"))
    assert(PlanLint.lint("q_window_surrogate_key", a.union(b))
      .exists(_.rule == "single-partition"))
  }

  test("lint flags a pushable filter that never reached the scan") {
    import org.apache.spark.sql.catalyst.expressions.{GreaterThan, Literal}
    import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec}
    // Spark's own planner always collects deterministic conjuncts into
    // the scan's dataFilters, so the bad shape is hand-built: a Filter
    // carrying a pushable predicate over a scan that received none —
    // the shape a custom strategy or source regression would produce.
    val scan = lineitem.queryExecution.executedPlan.collectFirst {
      case s: FileSourceScanExec => s
    }.get
    assert(scan.dataFilters.isEmpty, "precondition: unfiltered scan")
    val qty = scan.output.find(_.name == "l_quantity").get
    val bad = FilterExec(GreaterThan(qty, Literal(45.0)), scan)
    assert(PlanLint.lintPlan("seeded_nopush", bad).exists(_.rule == "pushdown"))
    // the planner-produced filtered form pushes and stays green
    val good = lineitem.where(col("l_quantity") > 45.0)
    assert(!PlanLint.lint("pushed", good).exists(_.rule == "pushdown"))
  }

  test("bounded shapes stay green: global agg and broadcast offsets") {
    // partial->final global aggregate: Exchange SinglePartition fed by a
    // no-grouping partial agg is the correct bounded pattern
    val agg = lineitem.agg(sum(col("l_quantity")))
    assert(PlanLint.lint("global_agg", agg).isEmpty)
  }

  // ---- post-execution (AQE-final) lint ------------------------------

  test("every registered query passes the lint on the AQE-final executed plan") {
    // the NORMAL session: AQE + codegen on — this is the plan that ran,
    // after any runtime re-optimization the static (AQE-off) gate
    // cannot see
    val violations = lintRegistry(spark)(PlanLint.lintExecuted)
    assert(violations.isEmpty,
      "runtime plan violations:\n" + violations.mkString("\n"))
  }

  test("executed-plan lint flags the cartesian a shrunk broadcast budget seeds") {
    // the demotion A/B: a non-equi join broadcasts its small side under
    // the default budget (a legal conditioned BNLJ — runtime lint
    // green); the SAME query with broadcasting disabled executes as a
    // CartesianProduct — runtime lint red
    def joined(s: SparkSession) = {
      val n = s.read.parquet(s"$dir/nation.parquet")
      val r = s.read.parquet(s"$dir/region.parquet")
      n.join(r, n("n_regionkey") > r("r_regionkey"))
    }
    val ok = spark.newSession()
    assert(PlanLint.lintExecuted("seeded_bnlj_ok", joined(ok)).isEmpty)
    val bad = spark.newSession()
    bad.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val vs = PlanLint.lintExecuted("seeded_runtime_cartesian", joined(bad))
    assert(vs.exists(_.rule == "cartesian"), vs.mkString("\n"))
  }

  test("executed-plan lint sees inside materialized query stages") {
    // an unpartitioned window over a table: its SinglePartition exchange
    // materializes as a leaf ShuffleQueryStageExec in the runtime plan —
    // only the stage-splicing unwrap can find it
    val bad = spark.newSession().read.parquet(s"$dir/lineitem.parquet")
      .withColumn("rn", row_number().over(Window.orderBy(col("l_orderkey"))))
    val vs = PlanLint.lintExecuted("seeded_runtime_window", bad)
    assert(vs.exists(_.rule == "single-partition"), vs.mkString("\n"))
  }
}
