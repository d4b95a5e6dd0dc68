package graft

import graft.operators.KCore
import org.scalatest.funsuite.AnyFunSuite

/** k-core peeling against an in-memory twin, the cascade behavior that
  * distinguishes it from a one-pass degree filter, and the loud-cap /
  * guard contracts — each on both paths of [[GraphInput]]'s size rule
  * (driver and, with broadcasts disabled, the distributed loops).
  */
class KCoreSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  private def reference(edges: Seq[(String, String)], k: Int)
  : Map[String, (Long, Long)] = {
    val simple = edges.filter(e => e._1 != e._2)
      .map(e => if (e._1 < e._2) e else e.swap).distinct
    def degAmong(alive: Set[String]): Map[String, Long] =
      simple.filter(e => alive(e._1) && alive(e._2))
        .flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val degFull = degAmong(simple.flatMap(e => Seq(e._1, e._2)).toSet)
    var alive = degFull.keySet
    var done = false
    while (!done) {
      val d = degAmong(alive)
      val next = alive.filter(n => d.getOrElse(n, 0L) >= k)
      done = next == alive
      alive = next
    }
    val dc = degAmong(alive)
    alive.map(n => n -> ((degFull(n), dc(n)))).toMap
  }

  private def run(edges: Seq[(String, String)], k: Int,
                  maxRounds: Int = 32): Map[String, (Long, Long)] =
    onBothGraphPaths(KCore.peel(spark, edges.toDF("src", "dst"), k, maxRounds))(
      _.as[(String, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap)

  // 4-clique with a pendant path c-p1-p2-p3: at k=2 the path unravels
  // one node per round (3 rounds), each interior node holding degree 2
  // until its outer neighbor falls — the cascade a single-pass filter
  // cannot see
  private val cascade = Seq(
    ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d"),
    ("c", "p1"), ("p1", "p2"), ("p2", "p3"))

  test("matches the twin; the pendant path unravels fully") {
    val got = run(cascade, 2)
    assert(got === reference(cascade, 2))
    assert(got.keySet === Set("a", "b", "c", "d"))
    assert(got("c") === ((4L, 3L)), "full degree kept, core degree shrunk")
  }

  test("a one-pass degree filter would keep what the peel removes") {
    // p1 and p2 have full degree 2 — they pass deg >= 2 but are NOT in
    // the 2-core; the operator's whole point is this difference
    val got = run(cascade, 2)
    assert(!got.contains("p1") && !got.contains("p2"))
  }

  test("whole graph survives when k is low; empty core when k too high") {
    assert(run(cascade, 1).keySet ===
      Set("a", "b", "c", "d", "p1", "p2", "p3"))
    assert(run(cascade, 4) === Map.empty)
  }

  test("matches the twin across k on a pseudo-random graph") {
    val edges = (0 until 150).map { i =>
      (s"n${i * 11 % 19}", s"n${(i * i + 5) % 19}")
    }.filter(e => e._1 != e._2)
    for (k <- Seq(2, 4, 7)) {
      assert(run(edges, k) === reference(edges, k), s"k=$k")
    }
  }

  test("an unreachable fixpoint within maxRounds fails loudly") {
    forEachGraphPath { path =>
      val e = intercept[IllegalArgumentException] {
        KCore.peel(spark, cascade.toDF("src", "dst"), 2, 2)
      }
      assert(e.getMessage.contains("SUPERSET"),
        s"$path: the cap message must say why a capped result is unsafe")
    }
  }

  test("delta and full-recompute rounds produce identical results") {
    // the r20 delta peel: while the alive set is under the broadcast
    // bound the removed wave broadcasts and degrees are maintained by
    // subtraction; above it each round recomputes degrees from the
    // edge list. Force the recompute branch (bound 0) of the
    // distributed loop and prove both peel and coreNumbers return the
    // same rows as the default delta branch (and the driver path) on
    // the cascade and a pseudo-random graph.
    val edges = (0 until 150).map { i =>
      (s"n${i * 11 % 19}", s"n${(i * i + 5) % 19}")
    }.filter(e => e._1 != e._2)
    for (g <- Seq(cascade, edges)) {
      val recomputePeel = onDistributedGraphPath(
        KCore.peel(spark, g.toDF("src", "dst"), 2, 32, deltaMaxAlive = 0L)
          .as[(String, Long, Long)].collect()
          .map(r => r._1 -> ((r._2, r._3))).toMap)
      assert(recomputePeel === run(g, 2))
      val recomputeCores = onDistributedGraphPath(
        KCore.coreNumbers(spark, g.toDF("src", "dst"), 64, deltaMaxAlive = 0L)
          .as[(String, Long)].collect().toMap)
      assert(recomputeCores === runCores(g))
    }
  }

  test("empty and null-endpoint feeds fail loudly") {
    forEachGraphPath { path =>
      val e1 = intercept[IllegalArgumentException] {
        KCore.peel(spark,
          Seq.empty[(String, String)].toDF("src", "dst"), 2, 4)
      }
      assert(e1.getMessage.contains("empty"), path)
      val withNull = Seq(("a", "b")).toDF("src", "dst")
        .unionAll(Seq((null: String, "b")).toDF("src", "dst"))
      val e2 = intercept[IllegalArgumentException] {
        KCore.peel(spark, withNull, 2, 4)
      }
      assert(e2.getMessage.contains("NULL"), path)
      // NULL edges only: the canonical frame comes back empty, and the
      // guard must still count what the raw feed held
      val e3 = intercept[IllegalArgumentException] {
        KCore.peel(spark, Seq((null: String, "b"), ("a", null: String))
          .toDF("src", "dst"), 2, 4)
      }
      assert(e3.getMessage.contains("2 edges carry a NULL endpoint"),
        s"$path: ${e3.getMessage}")
    }
  }

  /** Core-number twin straight off the definition: c(v) = max k such
    * that v is in the k-core (computed via the peel twin per k).
    */
  private def referenceCores(edges: Seq[(String, String)])
  : Map[String, Long] = {
    var cores = Map.empty[String, Long]
    var k = 1
    var alive = reference(edges, k).keySet
    while (alive.nonEmpty) {
      alive.foreach(n => cores += n -> k.toLong)
      k += 1
      alive = reference(edges, k).keySet
    }
    cores
  }

  private def runCores(edges: Seq[(String, String)],
                       maxRounds: Int = 64): Map[String, Long] =
    onBothGraphPaths(KCore.coreNumbers(spark, edges.toDF("src", "dst"), maxRounds))(
      _.as[(String, Long)].collect().toMap)

  test("core numbers match the definition twin on the cascade graph") {
    val got = runCores(cascade)
    assert(got === referenceCores(cascade))
    // clique at core 3, the pendant path (including its full-degree-2
    // interior) at core 1 — one pass yields what three peels would
    assert(got("a") === 3L && got("c") === 3L)
    assert(got("p1") === 1L && got("p2") === 1L && got("p3") === 1L)
  }

  test("core numbers match the twin on a pseudo-random graph") {
    val edges = (0 until 150).map { i =>
      (s"n${i * 11 % 19}", s"n${(i * i + 5) % 19}")
    }.filter(e => e._1 != e._2)
    assert(runCores(edges) === referenceCores(edges))
  }

  test("core numbers: self-loop-only input yields the graceful empty frame") {
    // the guards pass (edges exist) but the canonical simple graph is
    // empty — both faces of the operator must agree on the degenerate
    // input instead of one crashing on an empty reduce
    val loops = Seq(("a", "a"), ("b", "b"))
    assert(runCores(loops) === Map.empty)
    assert(run(loops, 1) === Map.empty)
  }

  test("core numbers: an unfinished ladder fails loudly, never mislabels") {
    forEachGraphPath { path =>
      val e = intercept[IllegalArgumentException] {
        KCore.coreNumbers(spark, cascade.toDF("src", "dst"), 3)
      }
      assert(e.getMessage.contains("mislabel"), path)
      // null-endpoint guard matches peel's
      val withNull = Seq(("a", "b")).toDF("src", "dst")
        .unionAll(Seq((null: String, "b")).toDF("src", "dst"))
      intercept[IllegalArgumentException] {
        KCore.coreNumbers(spark, withNull, 8)
      }
    }
  }

  test("registered core-number fixture: clique 10, cycle 2, path+star 1") {
    val dir = "/root/testdata/sf0.001"
    val got = graft.queries.GraphQueries
      .queries("q_graph_core_numbers")(spark, dir)
      .as[(String, Long)].collect().toMap
    assert(got.size === 37)
    val byCore = got.groupBy(_._2).view.mapValues(_.size).toMap
    assert(byCore === Map(10L -> 11, 2L -> 7, 1L -> 19),
      "11-clique at core 10, 7-cycle at core 2, path+star at core 1")
    // consistency with the fixed-k gate: the k=2 membership cut equals
    // the core-number threshold — one table serves every k
    val gate = graft.queries.GraphQueries
      .queries("q_graph_kcore")(spark, dir)
      .select("node").as[String].collect().toSet
    assert(got.filter(_._2 >= 2L).keySet === gate)
  }

  test("registered fixture: 13-round cascade, clique+cycle core, margin") {
    // the row's contract: the pendant path makes the fixpoint take 13
    // drop rounds (+1 confirming round), inside the 16 the oracle
    // unrolls; a 10-round cap must therefore fail loudly
    val dir = "/root/testdata/sf0.001"
    val out = graft.queries.GraphQueries
      .queries("q_graph_kcore")(spark, dir)
      .as[(String, Long, Long)].collect()
    assert(out.length === 18, "11-clique + 7-cycle survive")
    assert(out.map(_._3).toSet === Set(2L, 10L),
      "core degrees separate the cycle from the clique")
    forEachGraphPath { _ =>
      intercept[IllegalArgumentException] {
        graft.operators.KCore.peel(spark,
          graft.queries.GraphQueries.kcoreEdges(spark, dir), 2, 10)
      }
    }
  }
}
