package graft

import graft.operators.Hits
import org.scalatest.funsuite.AnyFunSuite

/** HITS against an in-memory twin of the documented integer
  * recurrence, plus the shape facts that make the scores meaningful:
  * pure sources carry hub mass only, pure sinks authority only, and
  * more in-links from good hubs means more authority. Twin cases and
  * refusals run on both paths of [[GraphInput]]'s size rule (driver
  * and, with broadcasts disabled, distributed).
  */
class HitsSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  private def reference(edges: Seq[(Long, Long)],
                        iters: Int): Map[Long, (Long, Long)] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    def rescale(m: Map[Long, Long]): Map[Long, Long] = {
      val mx = m.values.max
      m.view.mapValues(_ / (mx / 1000L + 1L)).toMap
    }
    var h = nodes.map(_ -> 1000L).toMap
    var a = Map.empty[Long, Long]
    for (_ <- 1 to iters) {
      a = rescale(nodes.map(v =>
        v -> edges.filter(_._2 == v).map(e => h(e._1)).sum).toMap)
      h = rescale(nodes.map(u =>
        u -> edges.filter(_._1 == u).map(e => a(e._2)).sum).toMap)
    }
    nodes.map(v => v -> ((h(v), a(v)))).toMap
  }

  private def run(edges: Seq[(Long, Long)],
                  iters: Int): Map[Long, (Long, Long)] =
    onBothGraphPaths(Hits.run(spark, edges.toDF("src", "dst"), iters))(
      _.as[(Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap)

  test("matches the in-memory twin; hubs and authorities separate") {
    // hubs 1..3 link into sinks 10, 11; node 2 also RECEIVES a link, so
    // one node exercises the mixed hub+authority path
    val edges = Seq((1L, 10L), (1L, 11L), (2L, 10L), (3L, 10L), (1L, 2L))
    for (iters <- Seq(1, 3)) {
      assert(run(edges, iters) === reference(edges, iters),
        s"mismatch at iters=$iters")
    }
    val got = run(edges, 3)
    // pure sinks: no out-edges -> zero hub mass; sources with no
    // in-edge: zero authority
    assert(got(10L)._1 === 0L && got(11L)._1 === 0L)
    assert(got(1L)._2 === 0L && got(3L)._2 === 0L)
    // 10 has three in-links (incl. the strongest hub), 11 one: the
    // authority order must reflect it; 1 links both sinks, 3 only one
    assert(got(10L)._2 > got(11L)._2)
    assert(got(1L)._1 > got(3L)._1)
    // the mixed node carries BOTH scores
    assert(got(2L)._1 > 0L && got(2L)._2 > 0L)
  }

  test("matches the twin on random star and disconnected graphs") {
    // duplicates and self-loops included: HITS reads DISTINCT directed
    // edges, so the twin sees the distinct set
    for (seed <- Seq(1, 2, 3); (n, m) <- Seq((8, 30), (20, 60))) {
      val rnd = new scala.util.Random(seed)
      def uniform(base: Long) = (1 to m).map(_ =>
        (base + rnd.nextInt(n), base + rnd.nextInt(n)))
      val star = (1 until n).map(i => (0L, i.toLong)) ++
        (1 until n by 3).map(i => (i.toLong, 0L)) ++ uniform(0L).take(m / 3)
      val split = uniform(0L) ++ uniform(1000L)
      for ((shape, edges) <- Seq("star" -> star, "split" -> split);
           iters <- Seq(1, 4)) {
        assert(run(edges, iters) === reference(edges.distinct, iters),
          s"$shape seed=$seed n=$n m=$m iters=$iters")
      }
    }
  }

  test("empty graph fails loudly") {
    forEachGraphPath { path =>
      assert(intercept[IllegalArgumentException] {
        Hits.run(spark, Seq.empty[(Long, Long)].toDF("src", "dst"), 1)
      }.getMessage.contains("empty graph"), path)
    }
  }

  test("NULL endpoints fail loudly instead of leaking mass") {
    // a null-src edge silently drops from every hub/authority join
    // (count/sum skip nulls) — the production guard must name the leak,
    // same contract as PageRank.runWeighted's NULL-weight guard
    val edges = Seq((java.lang.Long.valueOf(1L), java.lang.Long.valueOf(10L)),
        (null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(11L)))
      .toDF("src", "dst")
    // disjoint nulls (src-null and dst-null on DIFFERENT rows) must
    // count ROWS, not the per-column minimum
    def L(x: Long) = java.lang.Long.valueOf(x)
    val disjoint = Seq((null.asInstanceOf[java.lang.Long], L(11L)),
        (L(1L), null.asInstanceOf[java.lang.Long]), (L(2L), L(3L)))
      .toDF("src", "dst")
    forEachGraphPath { path =>
      val e = intercept[IllegalArgumentException] { Hits.run(spark, edges, 2) }
      assert(e.getMessage.contains("NULL endpoint"), s"$path: ${e.getMessage}")
      assert(e.getMessage.contains("1 edges"), s"$path: ${e.getMessage}")
      val e2 = intercept[IllegalArgumentException] {
        Hits.run(spark, disjoint, 2)
      }
      assert(e2.getMessage.contains("2 edges"), s"$path: ${e2.getMessage}")
    }
  }
}
