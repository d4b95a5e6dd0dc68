package graft

import graft.operators.{KCore, LabelPropagation, Triangles}
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Model-based property tests for the r17 graph operators: seeded
  * random MULTIGRAPHS over small node domains (dense collisions →
  * duplicate edges, both orientations and self-loops occur constantly,
  * so the canonicalization path is exercised on every case), across
  * several seeds and densities, each compared against a pure-Scala
  * model of the documented semantics. The degree-ordered orientation
  * (Triangles), the peel schedule (KCore) and the synchronous update
  * with the smallest-label tie rule (LPA) must all be invisible in the
  * rows — only the documented math may show. Every case runs on both
  * paths of [[GraphInput]]'s size rule: finished on the driver and,
  * with broadcasts disabled, through the distributed loops. Besides
  * the uniform multigraphs, the cases include skewed (star) and
  * disconnected random graphs.
  */
class GraphPropertiesSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  private def randomEdges(seed: Int, n: Int, m: Int): Seq[(String, String)] = {
    val rnd = new Random(seed)
    (1 to m).map(_ => (s"n${rnd.nextInt(n)}", s"n${rnd.nextInt(n)}"))
  }

  /** Skewed: hub `n0` links every other node (either direction), plus
    * `m` uniform edges among them.
    */
  private def starEdges(seed: Int, n: Int, m: Int): Seq[(String, String)] =
    (1 until n).map(i => if (i % 2 == 0) ("n0", s"n$i") else (s"n$i", "n0")) ++
      randomEdges(seed, n, m)

  /** Disconnected: two uniform multigraphs over disjoint node sets. */
  private def splitEdges(seed: Int, n: Int, m: Int): Seq[(String, String)] =
    randomEdges(seed, n, m) ++ randomEdges(seed + 100, n, m)
      .map { case (a, b) => (s"x$a", s"x$b") }

  /** The uniform, star and disconnected cases of one (seed, n, m). */
  private def graphs(seed: Int, n: Int, m: Int)
  : Seq[(String, Seq[(String, String)])] =
    Seq("uniform" -> randomEdges(seed, n, m),
      "star" -> starEdges(seed, n, m / 2),
      "split" -> splitEdges(seed, n, m / 2))

  private def simple(edges: Seq[(String, String)]): Seq[(String, String)] =
    edges.filter(e => e._1 != e._2)
      .map(e => if (e._1 < e._2) e else e.swap).distinct

  private def adjOf(edges: Seq[(String, String)])
  : Map[String, Set[String]] =
    simple(edges).flatMap(e => Seq(e, e.swap))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  test("Triangles matches the u<v<w model on random multigraphs") {
    for (seed <- Seq(1, 2, 3); (n, m) <- Seq((10, 60), (18, 90), (25, 40));
         (shape, edges) <- graphs(seed, n, m)) {
      if (simple(edges).nonEmpty) {
        val adj = adjOf(edges)
        val nodes = adj.keys.toSeq.sorted
        val tris = for {
          u <- nodes; v <- nodes if u < v && adj(u)(v)
          w <- nodes if v < w && adj(u)(w) && adj(v)(w)
        } yield (u, v, w)
        val want = nodes.map { nd =>
          val deg = adj(nd).size.toLong
          val t = tris.count(x =>
            x._1 == nd || x._2 == nd || x._3 == nd).toLong
          val lcc =
            if (deg >= 2) 2L * t * 1000000L / (deg * (deg - 1)) else 0L
          nd -> ((deg, t, lcc))
        }.toMap
        val got = onBothGraphPaths(
            Triangles.localCounts(spark, edges.toDF("src", "dst")))(
            _.as[(String, Long, Long, Long)].collect()
              .map(r => r._1 -> ((r._2, r._3, r._4))).toMap)
        assert(got === want, s"$shape seed=$seed n=$n m=$m")
      }
    }
  }

  test("KCore matches the peel model across k on random multigraphs") {
    for (seed <- Seq(4, 5); (n, m) <- Seq((12, 50), (20, 70));
         (shape, edges) <- graphs(seed, n, m)) {
      if (simple(edges).nonEmpty) {
        val sim = simple(edges)
        def degAmong(alive: Set[String]): Map[String, Long] =
          sim.filter(e => alive(e._1) && alive(e._2))
            .flatMap(e => Seq(e._1, e._2))
            .groupBy(identity).view.mapValues(_.size.toLong).toMap
        val degFull = degAmong(sim.flatMap(e => Seq(e._1, e._2)).toSet)
        for (k <- Seq(2, 3, 5)) {
          var alive = degFull.keySet
          var done = false
          while (!done) {
            val d = degAmong(alive)
            val next = alive.filter(x => d.getOrElse(x, 0L) >= k)
            done = next == alive
            alive = next
          }
          val dc = degAmong(alive)
          val want = alive.map(x => x -> ((degFull(x), dc(x)))).toMap
          val got = onBothGraphPaths(
              KCore.peel(spark, edges.toDF("src", "dst"), k, 64))(
              _.as[(String, Long, Long)].collect()
                .map(r => r._1 -> ((r._2, r._3))).toMap)
          assert(got === want, s"$shape seed=$seed n=$n m=$m k=$k")
        }
      }
    }
  }

  test("LPA matches the synchronous model across rounds on random graphs") {
    for (seed <- Seq(6, 7); (n, m) <- Seq((14, 45), (22, 80));
         (shape, edges) <- graphs(seed, n, m)) {
      if (simple(edges).nonEmpty) {
        val adj = adjOf(edges).view.mapValues(_.toSeq).toMap
        for (rounds <- Seq(1, 3, 5)) {
          var labels = adj.keys.map(x => x -> x).toMap
          for (_ <- 1 to rounds) {
            labels = adj.map { case (nd, nbrs) =>
              val votes = nbrs.groupBy(labels).view.mapValues(_.size)
              nd -> votes.toSeq.minBy { case (l, c) => (-c, l) }._1
            }
          }
          val got = onBothGraphPaths(LabelPropagation
              .run(spark, edges.toDF("src", "dst"), rounds))(
              _.as[(String, String)].collect().toMap)
          assert(got === labels,
            s"$shape seed=$seed n=$n m=$m rounds=$rounds")
        }
      }
    }
  }

  test("LPA ties break in Spark's string order, not String.compareTo") {
    // U+FF21 sorts AFTER the surrogate pair of U+1F600 in UTF-16 (what
    // String.compareTo compares) but BEFORE it in UTF-8 bytes (what
    // Spark sorts): the hub's one-vote-each tie must pick U+FF21
    val (wide, emoji) = ("\uFF21", "\uD83D\uDE00")
    assert(emoji.compareTo(wide) < 0)
    val got = onBothGraphPaths(LabelPropagation.run(spark,
        Seq(("hub", wide), (emoji, "hub")).toDF("src", "dst"), 1))(
        _.as[(String, String)].collect().toMap)
    assert(got === Map("hub" -> wide, wide -> "hub", emoji -> "hub"))
  }
}
