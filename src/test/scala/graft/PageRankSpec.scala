package graft

import graft.operators.PageRank
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** PageRank must keep EVERY node in the frame each round — including
  * zero-in-degree nodes (out-edges only), whose rank is exactly the
  * teleport term and whose outgoing contributions must keep flowing.
  * Reference: an in-memory loop over the same integer recurrence. The
  * twin cases run on both paths of [[GraphInput]]'s size rule (driver
  * and, with broadcasts disabled, the distributed loops).
  */
class PageRankSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  /** In-memory twin of the documented recurrence:
    * r_{k+1}(v) = tp + (85 * Σ_{u→v} (r_k(u) div deg(u))) div 100.
    */
  private def reference(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val nodes = edges.map(_._1).distinct.sorted
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val n = nodes.size
    val r0 = PageRank.Scale / n
    val tp = 15L * r0 / 100L
    var r = nodes.map(_ -> r0).toMap
    for (_ <- 1 to iters) {
      val shares = edges.groupBy(_._2).view.mapValues(
        _.map { case (u, _) => r(u) / deg(u) }.sum).toMap
      r = nodes.map(v => v -> (tp + 85L * shares.getOrElse(v, 0L) / 100L)).toMap
    }
    r
  }

  private def ranks(build: => org.apache.spark.sql.DataFrame): Map[Long, Long] =
    onBothGraphPaths(build)(_.as[(Long, Long)].collect().toMap)

  private def run(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    ranks(PageRank.run(spark, edges.toDF("src", "dst"), iters))

  /** Random star (hub 0 to and from every node) and disconnected (two
    * node ranges) multigraphs; `backEdges` adds each edge's reverse so
    * every node has an out-edge (the classic faces' contract).
    */
  private def randomGraphs(seed: Int, n: Int, m: Int, backEdges: Boolean)
  : Seq[(String, Seq[(Long, Long)])] = {
    val rnd = new scala.util.Random(seed)
    def uniform(base: Long) = (1 to m).map(_ =>
      (base + rnd.nextInt(n), base + rnd.nextInt(n)))
    val star = (1 until n).map(i => (0L, i.toLong)) ++
      (1 until n by 2).map(i => (i.toLong, 0L)) ++ uniform(0L).take(m / 2)
    val split = uniform(0L) ++ uniform(1000L)
    Seq("star" -> star, "split" -> split).map { case (shape, e) =>
      shape -> (if (backEdges) e ++ e.map(_.swap) else e)
    }
  }

  test("zero-in-degree node keeps teleport rank and keeps contributing") {
    // 1 -> 2 -> 3 -> 2: node 1 has out-edges but NO in-edges (the crawl
    // hub shape). It must stay in the output at rank = teleport every
    // round, and its share into 2 must survive rounds >= 2.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 2L))
    for (iters <- Seq(1, 2, 5)) {
      val got = run(edges, iters)
      val want = reference(edges, iters)
      assert(got === want, s"mismatch at iters=$iters")
      val tp = 15L * (PageRank.Scale / 3) / 100L
      assert(got(1L) === tp, "source-only node should hold teleport rank")
      assert(got.keySet === Set(1L, 2L, 3L), "every node must get a row")
    }
    // non-vacuity of the regression: node 1's contribution is visible
    // in node 2's rank (2 receives from both 1 and 3)
    val r2 = run(edges, 2)
    val starved = {
      // the buggy recurrence: drop node 1 after round 1
      val r1 = reference(edges, 1) - 1L
      val deg = Map(2L -> 1L, 3L -> 1L)
      val tp = 15L * (PageRank.Scale / 3) / 100L
      val s2 = r1(3L) / deg(3L) // only 3 -> 2 survives
      tp + 85L * s2 / 100L
    }
    assert(r2(2L) !== starved,
      "fixture cannot distinguish the spine fix from the dropped-node bug")
  }

  test("matches the in-memory reference on a denser graph") {
    val edges = Seq(
      (1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (4L, 1L), (4L, 2L),
      (5L, 4L), (5L, 5L), (6L, 3L), (6L, 5L))
    assert(run(edges, 6) === reference(edges, 6))
  }

  test("matches the in-memory reference on random star and disconnected graphs") {
    // multi-edges stay (they are weight here) and so do self-loops
    for (seed <- Seq(1, 2); (n, m) <- Seq((8, 30), (20, 60));
         (shape, edges) <- randomGraphs(seed, n, m, backEdges = true);
         iters <- Seq(1, 4)) {
      assert(run(edges, iters) === reference(edges, iters),
        s"$shape seed=$seed n=$n m=$m iters=$iters")
    }
  }

  test("weighted: matches an in-memory twin, splits shares by weight") {
    def reference(edges: Seq[(Long, Long, Long)], iters: Int): Map[Long, Long] = {
      val nodes = edges.map(_._1).distinct.sorted
      val totw = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
      val n = nodes.size
      val r0 = PageRank.Scale / n
      val tp = 15L * r0 / 100L
      var r = nodes.map(_ -> r0).toMap
      for (_ <- 1 to iters) {
        val shares = edges.groupBy(_._2).view.mapValues(
          _.map { case (u, _, w) => r(u) * w / totw(u) }.sum).toMap
        r = nodes.map(v => v -> (tp + 85L * shares.getOrElse(v, 0L) / 100L)).toMap
      }
      r
    }
    // node 1 sends 9/10 of its mass to 2 and 1/10 to 3
    val edges = Seq((1L, 2L, 9L), (1L, 3L, 1L), (2L, 1L, 1L), (3L, 1L, 1L))
    val got = ranks(
      PageRank.runWeighted(spark, edges.toDF("src", "dst", "w"), 4))
    assert(got === reference(edges, 4))
    assert(got(2L) > got(3L), "heavier edge must carry more rank")
    // uniform weights must equal the classic form exactly
    val uni = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 2L, 1L))
    assert(ranks(PageRank.runWeighted(spark, uni.toDF("src", "dst", "w"), 3))
      === run(uni.map(e => (e._1, e._2)), 3))
  }

  test("weighted: loud guards on non-positive, oversized, null weights") {
    forEachGraphPath(path => weightGuards(path))
  }

  private def weightGuards(path: String): Unit = {
    val zero = Seq((1L, 2L, 0L), (2L, 1L, 1L)).toDF("src", "dst", "w")
    assert(intercept[IllegalArgumentException] {
      PageRank.runWeighted(spark, zero, 1)
    }.getMessage.contains("positive"), path)
    val huge = Seq((1L, 2L, PageRank.MaxWeight + 1), (2L, 1L, 1L))
      .toDF("src", "dst", "w")
    assert(intercept[IllegalArgumentException] {
      PageRank.runWeighted(spark, huge, 1)
    }.getMessage.contains("overflow"), path)
    // a PARTIALLY-null weight column would pass min/max (both skip
    // nulls) and then silently drop the null edges' mass in the loop —
    // it must fail loudly instead
    val nully = Seq((1L, Some(2L), Option.empty[Long]),
      (1L, Some(3L), Some(5L)), (2L, Some(1L), Some(1L)),
      (3L, Some(1L), Some(1L)))
      .toDF("src", "dst", "w")
    assert(intercept[IllegalArgumentException] {
      PageRank.runWeighted(spark, nully, 1)
    }.getMessage.contains("NULL weight"), path)
    // empty graph says so, not "weights must be positive"
    assert(intercept[IllegalArgumentException] {
      PageRank.runWeighted(spark,
        Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w"), 1)
    }.getMessage.contains("empty graph"), path)
  }

  test("personalized: teleport only reaches seeds; unreachable nodes rank 0") {
    import org.apache.spark.sql.functions.col
    // 1 -> 2 -> 3 -> 2 and isolated pair 4 <-> 5; seed = {1}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 2L), (4L, 5L), (5L, 4L))
    val seeds = Seq(1L).toDF("node")
    val got = ranks(PageRank.runPersonalized(
      spark, edges.toDF("src", "dst"), seeds, 4))
    val r0 = PageRank.Scale / 1
    val tp = 15L * r0 / 100L
    // the seed has no in-edges: rank = its teleport, every round
    assert(got(1L) === tp)
    // nodes unreachable from the seed get exactly 0 — the curation
    // verdict "no trust path from the seeds"
    assert(got(4L) === 0L && got(5L) === 0L)
    // reachable non-seeds accumulate strictly positive rank via links
    assert(got(2L) > 0L && got(3L) > 0L)
    assert(got.keySet === Set(1L, 2L, 3L, 4L, 5L))
    // in-memory twin over the same recurrence
    def reference(iters: Int): Map[Long, Long] = {
      val nodes = edges.map(_._1).distinct.sorted
      val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      def tpOf(v: Long) = if (v == 1L) tp else 0L
      var r = nodes.map(v => v -> (if (v == 1L) r0 else 0L)).toMap
      for (_ <- 1 to iters) {
        val shares = edges.groupBy(_._2).view.mapValues(
          _.map { case (u, _) => r(u) / deg(u) }.sum).toMap
        r = nodes.map(v =>
          v -> (tpOf(v) + 85L * shares.getOrElse(v, 0L) / 100L)).toMap
      }
      r
    }
    assert(got === reference(4))
    // a seed set disjoint from the graph must fail loudly
    forEachGraphPath { path =>
      assert(intercept[IllegalArgumentException] {
        PageRank.runPersonalized(spark, edges.toDF("src", "dst"),
          Seq(99L).toDF("node"), 1)
      }.getMessage.contains("no seed"), path)
    }
  }

  test("a NULL dst refuses on every face and both paths; a NULL src drops") {
    // the share sent along a NULL-dst edge reaches no spine row on the
    // distributed path and a NULL key on the driver: refused, not guessed
    val nullDst = Seq((1L, Some(2L)), (2L, Some(1L)), (2L, None))
      .toDF("src", "dst")
    val faces: Seq[(String, () => Any)] = Seq(
      "run" -> (() => PageRank.run(spark, nullDst, 2)),
      "runWeighted" -> (() => PageRank.runWeighted(spark,
        nullDst.withColumn("w", lit(1L)), 2)),
      "runPersonalized" -> (() => PageRank.runPersonalized(spark, nullDst,
        Seq(1L).toDF("node"), 2)),
      "runDanglingRedistributed" -> (() =>
        PageRank.runDanglingRedistributed(spark, nullDst, 2)))
    forEachGraphPath { path =>
      faces.foreach { case (face, call) =>
        val msg = intercept[IllegalArgumentException](call()).getMessage
        assert(msg.contains("1 edges carry a NULL dst"), s"$path $face: $msg")
      }
    }
    // a NULL src carries no rank: the edge drops on both paths, and the
    // ranks are those of the graph without it
    val nullSrc = Seq((Some(1L), 2L), (Some(2L), 1L), (None, 1L))
      .toDF("src", "dst")
    assert(ranks(PageRank.runDanglingRedistributed(spark, nullSrc, 3)) ===
      ranks(PageRank.runDanglingRedistributed(spark,
        Seq((1L, 2L), (2L, 1L)).toDF("src", "dst"), 3)))
    assert(ranks(PageRank.run(spark, nullSrc, 3)) ===
      run(Seq((1L, 2L), (2L, 1L)), 3))
  }

  test("dangling node (dst with no out-edge) fails loudly on every face") {
    // 1 -> 2 -> 3, node 3 is a pure sink: rank flowing into it would
    // silently vanish (no spine row, no out-shares) — the operator must
    // refuse, naming the offender, on all three faces.
    val dangling = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    forEachGraphPath { path =>
      val msg = intercept[IllegalArgumentException] {
        PageRank.run(spark, dangling, 2)
      }.getMessage
      assert(msg.contains("dangling") && msg.contains("3"),
        s"$path: message must name the sink node: $msg")
      assert(intercept[IllegalArgumentException] {
        PageRank.runWeighted(spark,
          Seq((1L, 2L, 1L), (2L, 3L, 2L)).toDF("src", "dst", "w"), 2)
      }.getMessage.contains("dangling"), path)
      assert(intercept[IllegalArgumentException] {
        PageRank.runPersonalized(spark, dangling, Seq(1L).toDF("node"), 2)
      }.getMessage.contains("dangling"), path)
    }
    // the fix the message prescribes — a back-edge — makes the same
    // graph rank cleanly (non-vacuity of the guard's advice)
    val healed = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    assert(PageRank.run(spark, healed, 2).count() === 3L)
  }

  test("dangling-redistribution face: in-memory twin, sinks keep rows, mass conserved") {
    // 1 -> 3, 2 -> 3: node 3 is a pure sink (the crawl-frontier shape).
    // Its mass must come back uniformly each round, not vanish.
    val edges = Seq((1L, 3L), (2L, 3L))
    def reference(iters: Int): Map[Long, Long] = {
      val nodes = Seq(1L, 2L, 3L)
      val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val n = nodes.size
      val r0 = PageRank.Scale / n
      val tp = 15L * r0 / 100L
      var r = nodes.map(_ -> r0).toMap
      for (_ <- 1 to iters) {
        val dang = nodes.filterNot(deg.contains).map(r).sum
        val shares = edges.groupBy(_._2).view.mapValues(
          _.map { case (u, _) => r(u) / deg(u) }.sum).toMap
        r = nodes.map(v =>
          v -> (tp + 85L * (shares.getOrElse(v, 0L) + dang / n) / 100L)).toMap
      }
      r
    }
    for (iters <- Seq(1, 2, 4)) {
      val got = ranks(PageRank.runDanglingRedistributed(
        spark, edges.toDF("src", "dst"), iters))
      assert(got === reference(iters), s"mismatch at iters=$iters")
      assert(got.keySet === Set(1L, 2L, 3L), "the sink must get a row")
      // mass conservation: redistribution closes the dangling leak, so
      // only truncation dust is lost (a handful of units per node-round)
      assert(got.values.sum >= PageRank.Scale - 5L * 3L * iters - 3L
        && got.values.sum <= PageRank.Scale)
    }
    // non-vacuity: the sink accumulates real rank (above bare teleport)
    val r2 = ranks(PageRank.runDanglingRedistributed(
      spark, edges.toDF("src", "dst"), 2))
    val tp = 15L * (PageRank.Scale / 3) / 100L
    assert(r2(3L) > tp, "sink must receive link mass, not just teleport")
  }

  test("dangling-redistribution face: twin on random star and disconnected graphs") {
    def reference(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
      val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
      val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val n = nodes.size
      val r0 = PageRank.Scale / n
      val tp = 15L * r0 / 100L
      var r = nodes.map(_ -> r0).toMap
      for (_ <- 1 to iters) {
        val dang = nodes.filterNot(deg.contains).map(r).sum
        val shares = edges.groupBy(_._2).view.mapValues(
          _.map { case (u, _) => r(u) / deg(u) }.sum).toMap
        r = nodes.map(v =>
          v -> (tp + 85L * (shares.getOrElse(v, 0L) + dang / n) / 100L)).toMap
      }
      r
    }
    // no back-edges: the random graphs keep their sinks
    for (seed <- Seq(3, 4); (n, m) <- Seq((8, 12), (20, 30));
         (shape, edges) <- randomGraphs(seed, n, m, backEdges = false);
         iters <- Seq(1, 3)) {
      assert(ranks(PageRank.runDanglingRedistributed(
          spark, edges.toDF("src", "dst"), iters)) === reference(edges, iters),
        s"$shape seed=$seed n=$n m=$m iters=$iters")
    }
  }

  test("rank mass is conserved up to truncation dust") {
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 1L), (3L, 2L))
    val got = run(edges, 4)
    val total = got.values.sum
    // each round loses < 1 unit per node to the two integer divisions
    // per term, plus the initial Scale div n remainder
    assert(total <= PageRank.Scale)
    assert(total >= PageRank.Scale - 3L * 3L * 4L - 3L)
  }
}
