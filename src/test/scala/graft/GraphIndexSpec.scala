package graft

import graft.operators.PageRank
import graft.run.Orchestrator
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The warehouse-table form of the link-graph plane
  * (Orchestrator.indexGraphBatch / refreshGraphRanks /
  * hostGateAgainstRanks): landed batches accumulate the edge table
  * S8-idempotently, the rank refresh recomputes the whole-graph
  * fixpoint over the accumulated edges (collapsing cross-batch
  * duplicates), gating reads the PERSISTED ranks through the one
  * shared gate definition, and a replayed batch changes nothing.
  */
class GraphIndexSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  private def ranksAt(wh: String): Map[String, Long] =
    spark.read.parquet(s"$wh/indexes/graph_host_ranks")
      .as[(String, Long)].collect().toMap

  test("land, refresh, gate; replay is a no-op; duplicates collapse") {
    val wh = java.nio.file.Files.createTempDirectory("graft_graphidx").toString
    val b1Edges = Seq(("a", "b"), ("b", "a"))
    val b1 = new Orchestrator.Run(spark, wh, "B1")

    // gating before any refresh must fail loudly with the prescription,
    // never gate every document as unknown-host off an empty join
    val e = intercept[IllegalArgumentException] {
      b1.hostGateAgainstRanks(Seq((1L, "a")).toDF("doc_id", "source"))
    }
    assert(e.getMessage.contains("refreshGraphRanks"), e.getMessage)

    assert(b1.indexGraphBatch(b1Edges.toDF("src", "dst")) === 2L)
    b1.refreshGraphRanks(iters = 3)
    // the persisted ranks ARE the operator's fixpoint on the landed graph
    val direct1 = PageRank.run(spark, b1Edges.toDF("src", "dst"), 3)
      .as[(String, Long)].collect().toMap
    assert(ranksAt(wh) === direct1)

    // B2 re-lands a->b (cross-batch duplicate) plus two new edges: the
    // duplicate must collapse at refresh (classic PageRank is over the
    // DISTINCT edge set — a re-landed edge is not extra link signal)
    val b2 = new Orchestrator.Run(spark, wh, "B2")
    b2.indexGraphBatch(Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("src", "dst"))
    b2.refreshGraphRanks(iters = 3)
    val unioned = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "a"))
    val direct2 = PageRank.run(spark, unioned.toDF("src", "dst"), 3)
      .as[(String, Long)].collect().toMap
    assert(ranksAt(wh) === direct2)
    assert(direct2 !== direct1, "fixture too weak: B2 must shift the ranks")

    // gate against the persisted table: known hosts carry their rank,
    // an unseen host surfaces as known_host=false, never a silent drop
    val gate = b2.hostGateAgainstRanks(
        Seq((1L, "a"), (2L, "c"), (3L, "zzz")).toDF("doc_id", "source"))
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(2)) -1L else r.getLong(2)), r.getBoolean(3)))
      .toMap
    assert(gate(1L) === ((direct2("a"), true)))
    assert(gate(2L) === ((direct2("c"), true)))
    assert(gate(3L) === ((-1L, false)), "unknown host must be explicit")

    // replaying B1's edge load rewrites exactly its own partition: the
    // edge table's B1 slice stays single, and a re-refresh is stable
    val b1replay = new Orchestrator.Run(spark, wh, "B1")
    b1replay.indexGraphBatch(b1Edges.toDF("src", "dst"))
    val edges = spark.read.parquet(s"$wh/indexes/graph_edges")
    assert(edges.where(col("src") === "a" && col("dst") === "b")
      .select("dwh_batch_id").distinct().count() === 2L,
      "a->b appears under exactly its two landed batch partitions")
    assert(edges.count() === 5L, "replay must not append a third copy")
    b1replay.refreshGraphRanks(iters = 3)
    assert(ranksAt(wh) === direct2, "replay + refresh must be a no-op")

    // the refresh rides the mv_refresh audit plane (healable on failure)
    assert(b1replay.auditLog.exists(l =>
      l.step == "mv_refresh" && l.target == "indexes/graph_host_ranks"
        && l.status == "SUCCESS" && l.rows == 3L))
  }

  test("a build-phase refusal reaches the audit plane as FAILED") {
    // a dangling edge batch (the normal crawl shape) makes PageRank's
    // loud guard refuse DURING THE BUILD — that refusal must land a
    // FAILED mv_refresh row exactly like a dead write, or the
    // reprocess cycle never surfaces the stale rank table
    val wh = java.nio.file.Files.createTempDirectory("graft_graphidx2").toString
    val b = new Orchestrator.Run(spark, wh, "B1")
    b.indexGraphBatch(Seq(("a", "b")).toDF("src", "dst"))
    val e = intercept[IllegalArgumentException] { b.refreshGraphRanks(3) }
    assert(e.getMessage.contains("dangling"), e.getMessage)
    assert(b.auditLog.exists(l =>
      l.step == "mv_refresh" && l.target == "indexes/graph_host_ranks"
        && l.status == "FAILED" && l.message.contains("dangling")),
      b.auditLog.mkString("; "))
    assert(graft.run.Orchestrator.failedTargets(spark, wh, "B1")
      .contains("indexes/graph_host_ranks"),
      "the reprocess cycle must see the dead refresh")

    // the crawl-shaped policy: redistribute dangling mass instead of
    // refusing — the refresh succeeds, the sink gets a rank row, and
    // the table matches the operator called directly (the heal also
    // clears the FAILED target via the SUCCESS row)
    assert(b.refreshGraphRanks(3, redistributeDangling = true) === 2L)
    val direct = PageRank.runDanglingRedistributed(
        spark, Seq(("a", "b")).toDF("src", "dst"), 3)
      .as[(String, Long)].collect().toMap
    assert(ranksAt(wh) === direct)
    assert(direct.contains("b"), "the sink must hold a rank row")
    // SUCCESS rows are buffered (only failures flush eagerly); the
    // stage loop flushes at its boundary, which the heal check needs
    b.flushAudit()
    assert(!graft.run.Orchestrator.failedTargets(spark, wh, "B1")
      .contains("indexes/graph_host_ranks"),
      "a successful redistribute refresh must heal the failed target")
  }

  test("config-driven cadence: three landings, one refresh") {
    import graft.run.ToolsConfig
    val wh = java.nio.file.Files.createTempDirectory("graft_graphcad").toString
    // default with no config plane at all: refresh on every landing
    assert(ToolsConfig.refreshCadence(spark, wh,
      "indexes/graph_host_ranks") === 1)
    ToolsConfig.writeConfigFile(ToolsConfig.mvConfigPath(wh), Seq(
      """{"target_table":"indexes/graph_host_ranks","run_order":100,""" +
        """"enabled":true,"builder":"graph_host_ranks","strategy":"full",""" +
        """"refresh_every":3}"""))
    assert(ToolsConfig.refreshCadence(spark, wh,
      "indexes/graph_host_ranks") === 3)

    val landings = Seq(
      "B1" -> Seq(("a", "b"), ("b", "a")),
      "B2" -> Seq(("b", "c"), ("c", "b")),
      "B3" -> Seq(("c", "a"), ("a", "c")))
    def land(i: Int): (Orchestrator.Run, Option[Long]) = {
      val (bid, edges) = landings(i)
      val run = new Orchestrator.Run(spark, wh, bid)
      run.indexGraphBatch(edges.toDF("src", "dst"))
      val r = run.refreshGraphRanksIfDue(iters = 3)
      run.flushAudit()
      (run, r)
    }
    // first two landings skip (pending 1, then 2, under every=3); the
    // rank table stays absent BETWEEN landings and the gate's
    // stale-read refusal is UNCHANGED — cadence never substitutes an
    // empty gate for a refusal
    assert(land(0)._2 === None)
    val (run2, r2) = land(1)
    assert(r2 === None)
    intercept[IllegalArgumentException] {
      run2.hostGateAgainstRanks(Seq((1L, "a")).toDF("doc_id", "source"))
    }
    // the third landing crosses the cadence and refreshes the fixpoint
    // over ALL accumulated edges
    assert(land(2)._2 === Some(3L))
    val direct = PageRank.run(spark,
        landings.flatMap(_._2).toDF("src", "dst"), 3)
      .as[(String, Long)].collect().toMap
    assert(ranksAt(wh) === direct)
    val audit = spark.read.parquet(s"$wh/tools/audit_log")
      .where(col("target") === "indexes/graph_host_ranks")
    assert(audit.where(col("status") === "SUCCESS").count() === 1L,
      "exactly one refresh across the three landings")
    assert(audit.where(col("status") === "SKIPPED_CADENCE").count() === 2L,
      "skips must be visible on the audit plane")

    // a fourth landing starts a fresh pending window (the covers= marker
    // advanced to B3): skip again
    val b4 = new Orchestrator.Run(spark, wh, "B4")
    b4.indexGraphBatch(Seq(("a", "b")).toDF("src", "dst"))
    assert(b4.refreshGraphRanksIfDue(iters = 3) === None)
    assert(ranksAt(wh) === direct, "a cadence skip must not touch the table")

    // a non-positive cadence is a config error, not a silent freeze
    ToolsConfig.writeConfigFile(ToolsConfig.mvConfigPath(wh), Seq(
      """{"target_table":"indexes/graph_host_ranks","run_order":100,""" +
        """"enabled":true,"builder":"graph_host_ranks","refresh_every":0}"""))
    assert(intercept[IllegalArgumentException] {
      b4.refreshGraphRanksIfDue(iters = 3)
    }.getMessage.contains("refresh_every"))
  }

  test("HITS scores refresh over the same edge table on the audit plane") {
    val wh = java.nio.file.Files.createTempDirectory("graft_graphidx3").toString
    val b1 = new Orchestrator.Run(spark, wh, "B1")

    // a refresh before any edges landed is a build-phase refusal that
    // must reach the audit plane as FAILED (the refreshGraphRanks
    // contract) — here the read itself dies on the missing table
    intercept[Exception] { b1.refreshHitsScores(2) }
    assert(b1.auditLog.exists(l =>
      l.step == "mv_refresh" && l.target == "indexes/graph_hits_scores"
        && l.status == "FAILED"), b1.auditLog.mkString("; "))
    assert(graft.run.Orchestrator.failedTargets(spark, wh, "B1")
      .contains("indexes/graph_hits_scores"))

    // land two batches with a cross-batch duplicate; the refresh must
    // score the DISTINCT accumulated edge set (sinks are fine for HITS
    // — no dangling contract on this face)
    b1.indexGraphBatch(Seq((1L, 10L), (1L, 11L)).toDF("src", "dst"))
    val b2 = new Orchestrator.Run(spark, wh, "B2")
    b2.indexGraphBatch(Seq((1L, 10L), (2L, 10L)).toDF("src", "dst"))
    assert(b2.refreshHitsScores(3) === 4L) // nodes 1, 2, 10, 11
    val direct = graft.operators.Hits.run(spark,
        Seq((1L, 10L), (1L, 11L), (2L, 10L)).toDF("src", "dst"), 3)
      .as[(Long, Long, Long)].collect().toSet
    val table = spark.read.parquet(s"$wh/indexes/graph_hits_scores")
      .as[(Long, Long, Long)].collect().toSet
    assert(table === direct)

    // the SUCCESS row heals the earlier dead refresh for the reprocess
    // cycle, and a re-refresh is a stable overwrite
    b2.flushAudit()
    assert(!graft.run.Orchestrator.failedTargets(spark, wh, "B2")
      .contains("indexes/graph_hits_scores"))
    b2.refreshHitsScores(3)
    assert(spark.read.parquet(s"$wh/indexes/graph_hits_scores")
      .as[(Long, Long, Long)].collect().toSet === direct,
      "re-refresh must be a no-op overwrite")

    // the HITS face rides the same cadence plane, with ITS OWN covers=
    // marker: the first cadenced call covers both landed batches, an
    // immediate re-check skips
    assert(b2.refreshHitsScoresIfDue(3).exists(_ > 0L))
    assert(b2.refreshHitsScoresIfDue(3) === None)
  }

  test("triangle and k-core artifacts refresh over the same edge table") {
    val wh = java.nio.file.Files.createTempDirectory("graft_graphidx4").toString
    val b1 = new Orchestrator.Run(spark, wh, "B1")

    // build-phase refusals land FAILED (missing edge table)
    intercept[Exception] { b1.refreshTriangleCounts() }
    intercept[Exception] { b1.refreshKCore() }
    assert(Seq("indexes/graph_triangle_counts", "indexes/graph_kcore")
      .forall(t => b1.auditLog.exists(l =>
        l.step == "mv_refresh" && l.target == t && l.status == "FAILED")))
    // gating before the artifact exists: loud prescription, never an
    // empty-join pass-everything gate
    val ge = intercept[IllegalArgumentException] {
      b1.linkFarmGateAgainstTriangles(
        Seq((1L, "a")).toDF("doc_id", "source"))
    }
    assert(ge.getMessage.contains("refreshTriangleCounts"), ge.getMessage)

    // two landings with a cross-batch duplicate: a triangle abc, a
    // pendant d — the refresh computes over the DISTINCT union
    b1.indexGraphBatch(Seq(("a", "b"), ("b", "c")).toDF("src", "dst"))
    val b2 = new Orchestrator.Run(spark, wh, "B2")
    b2.indexGraphBatch(Seq(("b", "c"), ("c", "a"), ("c", "d"))
      .toDF("src", "dst"))
    val union = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"))

    assert(b2.refreshTriangleCounts() === 4L)
    val triDirect = graft.operators.Triangles
      .localCounts(spark, union.toDF("src", "dst"))
      .as[(String, Long, Long, Long)].collect().toSet
    assert(spark.read.parquet(s"$wh/indexes/graph_triangle_counts")
      .as[(String, Long, Long, Long)].collect().toSet === triDirect)

    // the table-backed gate reads the persisted counts through the ONE
    // shared definition: known hosts carry their stats, an unseen host
    // surfaces as known_host=false (this tiny graph stays under the
    // deg >= 4 flag cut, so every verdict is an explicit non-flag)
    val gate = b2.linkFarmGateAgainstTriangles(
        Seq((1L, "a"), (2L, "d"), (3L, "zzz")).toDF("doc_id", "source"))
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(4), r.getBoolean(5)))).toMap
    assert(gate === Map(1L -> ((true, false)), 2L -> ((true, false)),
      3L -> ((false, false))))

    // k=2 core: pendant d peels, the triangle survives
    assert(b2.refreshKCore(k = 2) === 3L)
    val coreTable = spark.read.parquet(s"$wh/indexes/graph_kcore")
      .as[(String, Long, Long)].collect().toSet
    assert(coreTable.map(_._1) === Set("a", "b", "c"))
    assert(coreTable === graft.operators.KCore
      .peel(spark, union.toDF("src", "dst"), 2, 8)
      .as[(String, Long, Long)].collect().toSet)

    // both ride the cadence plane with their own covers= markers
    b2.flushAudit()
    assert(b2.refreshTriangleCountsIfDue().exists(_ > 0L))
    assert(b2.refreshTriangleCountsIfDue() === None)
    assert(b2.refreshKCoreIfDue().exists(_ > 0L))
    assert(b2.refreshKCoreIfDue() === None)

    // the peel's loud round cap lands FAILED, never a superset table:
    // extend the pendant to a 2-chain (c-d-e) so the k=2 peel needs
    // two drop rounds (e, then d) and cap=1 is hit. (The r20 delta
    // peel reads convergence off the same round's Observation, so a
    // 1-drop-round graph now legitimately finishes within cap=1 — the
    // old shape needed a separate confirming round.)
    // overlapped maintenance (guide §2.6 via refreshOverlapped): the
    // concurrent form must produce the same artifacts as the
    // sequential calls above, and a failing thunk must not cancel its
    // independent siblings (its exception surfaces AFTER all complete)
    val triBefore = spark.read
      .parquet(s"$wh/indexes/graph_triangle_counts")
      .as[(String, Long, Long, Long)].collect().toSet
    val e = intercept[Exception] {
      b2.refreshOverlapped()(
        () => b2.refreshTriangleCounts(),
        () => throw new IllegalStateException("boom-thunk"),
        () => b2.refreshKCore(k = 2))
    }
    assert(e.getMessage.contains("boom-thunk"))
    assert(spark.read.parquet(s"$wh/indexes/graph_triangle_counts")
      .as[(String, Long, Long, Long)].collect().toSet === triBefore,
      "overlapped refresh must land the same triangle artifact")
    assert(spark.read.parquet(s"$wh/indexes/graph_kcore")
      .as[(String, Long, Long)].collect().toSet === coreTable,
      "overlapped refresh must land the same k-core artifact")

    val b3 = new Orchestrator.Run(spark, wh, "B3")
    b3.indexGraphBatch(Seq(("d", "e")).toDF("src", "dst"))
    intercept[Exception] { b3.refreshKCore(k = 2, maxRounds = 1) }
    assert(b3.auditLog.exists(l =>
      l.step == "mv_refresh" && l.target == "indexes/graph_kcore"
        && l.status == "FAILED" && l.message.contains("SUPERSET")))
    assert(spark.read.parquet(s"$wh/indexes/graph_kcore")
      .as[(String, Long, Long)].collect().toSet === coreTable,
      "a failed refresh must leave the previous artifact intact")
  }

  test("a NULL-endpoint edge batch lands FAILED before any graph artifact is written") {
    // the guard rides the operators' first materialization; it must
    // still refuse inside the failure scope, before the artifact write
    val wh = java.nio.file.Files.createTempDirectory("graft_graphidx5").toString
    val b = new Orchestrator.Run(spark, wh, "B1")
    b.indexGraphBatch(Seq(("a", "b"), ("b", "c"), ("c", null: String))
      .toDF("src", "dst"))
    val refreshes = Seq[(String, () => Long)](
      "indexes/graph_kcore" -> (() => b.refreshKCore()),
      "indexes/graph_core_numbers" -> (() => b.refreshCoreNumbers()),
      "indexes/graph_triangle_counts" -> (() => b.refreshTriangleCounts()),
      "indexes/graph_communities" -> (() => b.refreshLpaCommunities()),
      "indexes/graph_hits_scores" -> (() => b.refreshHitsScores()))
    for ((target, refresh) <- refreshes) {
      val e = intercept[IllegalArgumentException] { refresh() }
      assert(e.getMessage.contains("NULL endpoint"), s"$target: ${e.getMessage}")
      assert(b.auditLog.exists(l =>
        l.step == "mv_refresh" && l.target == target
          && l.status == "FAILED" && l.message.contains("NULL endpoint")),
        s"$target: ${b.auditLog.mkString("; ")}")
      assert(!new java.io.File(s"$wh/$target").exists(),
        s"$target: a refused refresh must write no artifact")
    }
    assert(refreshes.map(_._1).toSet.subsetOf(
      graft.run.Orchestrator.failedTargets(spark, wh, "B1")),
      "the reprocess cycle must see every refused refresh")
  }
}
