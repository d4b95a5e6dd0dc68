package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}

/** Distributed triangle counting + local clustering coefficient over an
  * undirected simple graph — the community-density signal a crawl
  * curation pipeline reads next to [[PageRank]]/[[Hits]]: link farms
  * and mirror rings show up as near-clique neighborhoods (LCC ≈ 1)
  * while organic hub pages keep sparse neighborhoods (LCC ≈ 0), so the
  * coefficient separates "many links" from "colluding links", which
  * raw degree cannot.
  *
  * Algorithm: degree-ordered edge orientation (Schank & Wagner 2005;
  * the MapReduce formulation is Suri & Vassilvitskii, WWW 2011). Each
  * undirected edge is directed from its lower endpoint to its higher
  * endpoint under the total order (degree, node id); every triangle
  * then has exactly ONE vertex with two out-edges into the other two,
  * so enumerating wedges at each vertex's out-neighborhood and closing
  * them against the oriented edge set counts each triangle exactly
  * once — no /6 correction, no duplicate pairs.
  *
  * Scale notes (100 TB): the orientation bounds every out-degree by
  * O(√m) — a celebrity node with 10⁸ in-links gets out-degree only to
  * HIGHER-ranked nodes, of which there are at most O(√m) — so the
  * wedge self-join (the only superlinear step) is Σ outdeg² ≤ O(m^1.5)
  * worst-case and near-linear on power-law graphs, with NO skewed
  * reduce key: the wedge join key is the wedge center, whose fan-out
  * is the bounded out-degree. Every step is an equi-join or keyed
  * aggregate (shuffle-partitioned, map-side combinable); nothing is
  * collected to the driver — unless the pinned edge frame fits
  * `spark.sql.autoBroadcastJoinThreshold` ([[GraphInput]]'s size
  * rule): then the same orientation and wedge closing run on the
  * driver over the collected edges, and larger graphs keep the
  * distributed plan.
  *
  * Determinism: all outputs are exact BIGINT counts; the coefficient
  * is published on an integer ppm lattice via truncating division
  * (`2·tri·10⁶ div deg·(deg−1)`), so any engine computing the same
  * simple graph reproduces the rows bit-for-bit.
  */
object Triangles {

  /** Per-node triangle counts over the simple graph induced by `edges`.
    *
    * Input tolerance: direction, multi-edges and self-loops are
    * normalization noise in real link feeds — edges are canonicalized
    * to unordered pairs, self-loops dropped, duplicates merged. NULL
    * endpoints are NOT tolerated ([[GraphInput]]'s guard): a null would
    * silently vanish from the canonical pair frame and undercount its
    * partner's neighborhood, so the feed must be repaired first.
    *
    * @param edges columns `src`, `dst` (any orderable node type)
    * @return (node, deg, tri_cnt, lcc_ppm) — one row per node with at
    *         least one neighbor; `lcc_ppm` = 0 where deg < 2
    */
  def localCounts(spark: SparkSession, edges: DataFrame): DataFrame = {
    val chain = graft.plans.Checkpoints.chain() // reliable-policy file GC
    val pinned = GraphInput.undirected(chain, edges, "Triangles",
      "land edges before counting",
      "they would silently drop from the canonical pair frame and " +
        "undercount their partner's neighborhood")
    pinned.finish(localCountsLocal(spark, pinned))(
      localCountsPinned(chain, pinned.edges))
  }

  /** The distributed count over the pinned canonical edges. */
  private def localCountsPinned(chain: graft.plans.Checkpoints.Chain,
                                canon: DataFrame): DataFrame = {
    // orient each edge from the (deg, node)-smaller endpoint to the
    // larger; carry the head's degree so wedges can order their legs
    // under the SAME total order without a re-join. Both frames stay
    // lazy over the pin: their three readers below (both wedge legs +
    // the closing-edge probe) sit in ONE plan, so the degree aggregate's
    // exchange is shared and only the map-side join probes repeat.
    val deg = GraphInput.degrees(canon)
    val ed = canon
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = ed.select(
      when(uFirst, col("u")).otherwise(col("v")).as("a"),
      when(uFirst, col("v")).otherwise(col("u")).as("b"),
      when(uFirst, col("dv")).otherwise(col("du")).as("db"))
    // wedges (a→b1, a→b2) with b1 below b2 in the orientation order;
    // the closing edge, if present, is oriented b1→b2 by construction
    val o1 = oriented.select(col("a"), col("b").as("b1"),
      col("db").as("db1"))
    val o2 = oriented.select(col("a"), col("b").as("b2"),
      col("db").as("db2"))
    val tris = o1.join(o2, Seq("a"))
      .where(col("db1") < col("db2") ||
        (col("db1") === col("db2") && col("b1") < col("b2")))
      .join(oriented.select(col("a").as("b1"), col("b").as("b2")),
        Seq("b1", "b2"))
      .select(col("a"), col("b1"), col("b2"))
    val perNode = tris.select(col("a").as("node"))
      .unionAll(tris.select(col("b1").as("node")))
      .unionAll(tris.select(col("b2").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("tri_cnt"))
    // seal: one eager cut of the result, then the pin's files are
    // reclaimed under the reliable policy
    chain.seal(deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("tri_cnt"), lit(0L)).as("tri_cnt"),
        when(col("deg") >= 2,
          expr("(2 * coalesce(tri_cnt, 0L) * 1000000) " +
            "div (deg * (deg - 1))"))
          .otherwise(lit(0L)).as("lcc_ppm")))
  }

  /** [[localCounts]] on the driver: the same (deg, node) orientation —
    * nodes ordered as Spark sorts them — and wedge closing over the
    * collected neighbor lists.
    */
  private def localCountsLocal(spark: SparkSession,
                               canon: GraphInput.Pinned): DataFrame = {
    val nbrs = GraphInput.localNeighbors(canon)
    val deg = nbrs.view.mapValues(_.length.toLong).toMap
    def before(a: Any, b: Any): Boolean =
      deg(a) < deg(b) || (deg(a) == deg(b) && GraphInput.keyOrder.lt(a, b))
    val linked = nbrs.view.mapValues(_.toSet).toMap
    val tri = scala.collection.mutable.HashMap.empty[Any, Long]
    def bump(v: Any): Unit = tri(v) = tri.getOrElse(v, 0L) + 1L
    nbrs.foreach { case (a, ns) =>
      val out = ns.filter(before(a, _))
      for (b1 <- out; b2 <- out if before(b1, b2) && linked(b1)(b2)) {
        bump(a); bump(b1); bump(b2)
      }
    }
    GraphInput.localResult(spark,
      Seq(GraphInput.adjacency(canon.edges).schema("node")),
      Seq(StructField("deg", LongType, nullable = false),
        StructField("tri_cnt", LongType, nullable = false),
        StructField("lcc_ppm", LongType)),
      deg.map { case (v, d) =>
        val t = tri.getOrElse(v, 0L)
        Seq(v, d, t, if (d >= 2) 2L * t * 1000000L / (d * (d - 1)) else 0L)
      })
  }
}
