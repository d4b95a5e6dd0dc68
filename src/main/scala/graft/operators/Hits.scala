package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}

/** Fixed-iteration HITS (Kleinberg 1999) — the second classic link-
  * analysis signal beside [[PageRank]]: a node is a good HUB if it
  * links to good authorities, a good AUTHORITY if good hubs link to it.
  * Crawl curation uses the authority side to find canonical content
  * hosts and the hub side to find index/link farms (high hub, low
  * authority). Pure integer arithmetic so the result is bit-identical
  * on any engine:
  *
  *   h_0(u)   = 1000
  *   a_k(v)   = rescale(Σ_{u→v} h_{k-1}(u))
  *   h_k(u)   = rescale(Σ_{u→v} a_k(v))
  *   rescale(x) = x div (max(x) div 1000 + 1)
  *
  * The rescale is the integer power-iteration normalization from
  * graft.operators.EmbeddingPca: it keeps values near the 1000-unit
  * lattice so products never overflow and both engines divide by the
  * same positive scalar (exact, order-free). Nodes = src ∪ dst — pure
  * sinks hold authority and pure sources hold hubness, so unlike the
  * PageRank loop there is no dangling contract here; nodes missing
  * from a side simply score 0 on it.
  *
  * Scale notes (100 TB): per iteration TWO edge-keyed shuffles (the
  * join with the current score frame + the per-endpoint sum) and one
  * 1-row max aggregate cross-joined back (never a driver collect); the
  * score frame is |V| rows, localCheckpointed per round to keep the
  * loop's lineage flat (reliable checkpoint on a real cluster). The
  * edge list is pinned once ([[GraphInput]]). A graph whose pin fits
  * `spark.sql.autoBroadcastJoinThreshold` ([[GraphInput]]'s size rule)
  * runs the same rounds on the driver over the collected edges; larger
  * graphs keep the distributed loop.
  */
object Hits {

  /** @param edges columns `src`, `dst` (node ids)
    * @param iters fixed iteration count (both engines unroll the same K)
    * @return (node, hub_scaled, auth_scaled) — one row per node in
    *         src ∪ dst, scores on the ~1000-unit lattice
    */
  def run(spark: SparkSession, edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val chain = graft.plans.Checkpoints.chain() // reliable-policy file GC
    // the directed distinct edge list, pinned: every round reads it
    val pinned = GraphInput.directed(chain, edges, "Hits",
      "an empty graph has no edges to score; land edges before scoring",
      "their hub/authority mass would silently vanish from the score " +
        "joins")
    pinned.finish(runLocal(spark, pinned, iters))(
      runPinned(chain, pinned.edges, iters))
  }

  /** The distributed loop over the pinned distinct edges `e`. */
  private def runPinned(chain: graft.plans.Checkpoints.Chain, e: DataFrame,
                        iters: Int): DataFrame = {
    // PINNED: every round (and the final join) reads the node spine
    val nodes = chain.pin(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    // Each half-round cuts the UNRESCALED endpoint sums and the max
    // rides that cut's materialization as an Observation (r21 — the
    // KCore discipline applied to the rescale): the old shape built a
    // 1-row max aggregate + crossJoin into every cut plan, i.e. one
    // extra aggregate subtree and its AQE stage jobs per half-round.
    // The rescale becomes a LAZY map-only divide by a driver literal
    // over the materialized frame — same integer arithmetic, zero
    // extra jobs (consumers re-run only the cheap projection).
    def cutSummed(raw: DataFrame): DataFrame = {
      val obs = org.apache.spark.sql.Observation()
      val cut = chain.cut(nodes.select(col("node"))
        .join(raw, Seq("node"), "left")
        .select(col("node"), coalesce(col("s"), lit(0L)).as("s"))
        .observe(obs, max(col("s")).as("m")))
      val d = obs.get("m").asInstanceOf[Long] / 1000L + 1L
      cut.select(col("node"), expr(s"s div ${d}L").as("s"))
    }
    // Deliberately one materialization per half-round (not the
    // fixed-iteration CutStride): the next half-round's join + the
    // rescale max both read the score frame, so an un-cut chain
    // doubles the plan and schedules duplicate AQE stage jobs —
    // measured 71 -> 85 jobs and 2.7 -> 3.2 s on the registered row
    // when this loop tried the one-cut form.
    var hubs = nodes.select(col("node"), lit(1000L).as("s"))
    var auths: DataFrame = null
    (1 to iters).foreach { _ =>
      val aRaw = e.join(hubs, e("src") === hubs("node"))
        .groupBy(e("dst").as("node")).agg(sum(col("s")).as("s"))
      auths = cutSummed(aRaw)
      val hRaw = e.join(auths, e("dst") === auths("node"))
        .groupBy(e("src").as("node")).agg(sum(col("s")).as("s"))
      hubs = cutSummed(hRaw)
    }
    // the final join reads the last TWO window cuts (hubs, auths) —
    // exactly the keep=2 window; seal reclaims them under reliable
    chain.sealIfReliable(nodes.select(col("node"))
      .join(hubs.select(col("node"), col("s").as("hub_scaled")), "node")
      .join(auths.select(col("node"), col("s").as("auth_scaled")), "node"))
  }

  /** [[run]] on the driver over the collected distinct edges: the
    * same half-rounds, each rescaled by the max over EVERY node
    * (zero-score nodes included, as the distributed left join keeps
    * them).
    */
  private def runLocal(spark: SparkSession, pinned: GraphInput.Pinned,
                       iters: Int): DataFrame = {
    val edges = pinned.collectKeyed()
    val nodes = (edges.map(_(0)) ++ edges.map(_(1))).distinct
    def summed(from: Int, to: Int, score: Map[Any, Long]): Map[Any, Long] = {
      val s = scala.collection.mutable.HashMap.empty[Any, Long]
      edges.foreach(x => s(x(to)) = s.getOrElse(x(to), 0L) + score(x(from)))
      val d = nodes.map(s.getOrElse(_, 0L)).max / 1000L + 1L
      nodes.map(v => v -> s.getOrElse(v, 0L) / d).toMap
    }
    var hubs = nodes.map(_ -> 1000L).toMap
    var auths = Map.empty[Any, Long]
    (1 to iters).foreach { _ =>
      auths = summed(0, 1, hubs)
      hubs = summed(1, 0, auths)
    }
    val e = pinned.edges
    val node = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).schema("node")
    GraphInput.localResult(spark, Seq(node),
      Seq(StructField("hub_scaled", LongType),
        StructField("auth_scaled", LongType)),
      nodes.map(v => Seq(v, hubs(v), auths(v))))
  }
}
