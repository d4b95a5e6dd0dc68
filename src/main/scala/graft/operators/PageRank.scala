package graft.operators

import graft.plans.Checkpoints
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}

/** Fixed-iteration PageRank in pure integer arithmetic — the link-
  * quality weighting a pretraining pipeline applies to a crawl's host
  * graph (CommonCrawl-style URL scoring), expressed so the result is
  * BIT-IDENTICAL on any engine:
  *
  *   r0(v)      = SCALE div n
  *   teleport   = (15 * (SCALE div n)) div 100
  *   r_{k+1}(v) = teleport + (85 * Σ_{u→v} (r_k(u)·w(u,v) div totw(u))) div 100
  *
  * (uniform weights collapse the share to the classic r div deg). All
  * quantities are nonnegative BIGINTs, so Spark's `div` (truncate
  * toward zero) and DuckDB's `//` (floor) coincide, and integer sums
  * are order-independent — the same quantized-lattice discipline as
  * graft.operators.EmbeddingPca / the Lloyd-trained ANN rows. Rank mass
  * leaks only truncation dust (< 1 unit per node per round at
  * SCALE = 1e12).
  *
  * Four faces, one shared loop for the first three:
  *  - [[run]]            — uniform weights, uniform teleport (classic);
  *  - [[runWeighted]]    — per-edge positive integer weights (link
  *                         counts): a host that links B 99 times and C
  *                         once sends B 99x the share;
  *  - [[runPersonalized]] — teleport restricted to a SEED set
  *                         (topic-sensitive PageRank, Haveliwala 2002):
  *                         the seed-biased host scoring crawl curation
  *                         uses to rank hosts by proximity to trusted
  *                         seeds. Non-seed teleport is 0, so rank
  *                         reaches a node only through link paths from
  *                         the seeds;
  *  - [[runDanglingRedistributed]] — the crawl-frontier shape the loud
  *                         guard below points at: sink nodes (pages
  *                         discovered but not yet crawled — only
  *                         in-links) keep their rows and their mass is
  *                         redistributed uniformly each round, instead
  *                         of the run refusing.
  *
  * The damping split (85/100) is Brin & Page's 0.85. The dangling-node
  * contract is ENFORCED, not documented away: `edges` must give every
  * node at least one out-edge (an undirected graph fed as both
  * directions satisfies this for free). A node that appears only as
  * `dst` would receive rank whose onward mass silently vanishes — the
  * loop's spine is built from `src` nodes, so the sink would not even
  * get an output row — so the three other faces FAIL LOUDLY on such
  * nodes, naming offenders (one metadata-plane anti-join on the pinned
  * edge frame, or a pass over its collected rows on the driver path).
  * An edge with a NULL dst refuses on every face. Callers with genuinely dangling graphs either add
  * self-loops / back-edges upstream, or redistribute dangling mass
  * before calling (the classic fix is dst → every node, which is a
  * dense edge set and therefore an upstream modeling decision, not a
  * silent default here).
  *
  * Scale notes (100 TB): per iteration ONE join of the edge list with
  * the rank frame on `src` and ONE aggregation on `dst` — both key
  * shuffles of the edge list; the rank frame is |V| rows (≪ |E|) and is
  * `localCheckpoint`ed per round so the loop's lineage stays flat (use
  * a reliable checkpoint dir on a real cluster). The weighted edge list
  * is pinned ONCE on the call's Checkpoints chain (a cut of the call's
  * own RDD, never a CacheManager entry that a concurrent refresh over
  * the same feed could share and drop), and each node's out-weight
  * total rides the |V|-row rank frame, so the round's one edge join
  * brings both r and totw; the driver holds only the node count (one
  * metadata-plane scalar). A graph that passes [[GraphInput]]'s size
  * rule (read off the pin's observed row count) is collected once and
  * finished on the driver: guards, node set, out-weights and rounds
  * all come from that one collect — the same per-edge
  * `(r*w) div totw` shares and per-round literals — and larger graphs
  * keep the distributed loops.
  */
object PageRank {

  val Scale = 1000000000000L

  /** Overflow margin for the weighted share r·w: r ≤ SCALE = 1e12, so
    * w ≤ 2^20 keeps the product < 2^60 — loudly required, never
    * silently wrapped.
    */
  val MaxWeight = 1L << 20

  /** Lineage-cut stride for FIXED-iteration loops (this file and the
    * callers that mirror the discipline): a cut per round was pure
    * materialization overhead — each round references the previous
    * rank frame exactly ONCE, so the un-cut plan grows LINEARLY (two
    * exchanges per round), never exponentially, and Catalyst handles an
    * 8-round-deep plan without measurable planning cost. Cutting every
    * [[CutStride]] rounds (and always on the last) bounds both the
    * plan depth and, under the reliable policy, the recompute window
    * after an executor loss to `CutStride` rounds — the classic
    * checkpoint-interval trade (guide §5: materialize only when
    * recomputation is the bigger bill). Measured on the registered
    * rows: 5-iteration PageRank drops from 6 actions (one per round)
    * to 2 with identical results.
    */
  private[operators] val CutStride = 8

  /** The shared core of the three faces whose node set is the src
    * nodes. `ewt` is the pinned (src, dst, w) frame, whose chain this
    * call finishes. Both paths check the same facts in the same order —
    * the weights (when `weighted`), the dangling nodes, the teleport
    * set (every node, or the `seeds` among them) — and run the same
    * recurrence: the driver path over the one collect of the pin, the
    * distributed path with its own Spark guards and rank frame.
    */
  private def loop(ewt: GraphInput.Pinned, iters: Int, weighted: Boolean,
                   seeds: Option[DataFrame]): DataFrame = {
    require(ewt.m > 0, "PageRank: empty graph")
    val nodes = outWeights(ewt.edges)
    ewt.finish {
      val e = ewt.collectKeyed()
      if (weighted) {
        val ws = e.flatMap(x => Option(x(2)).map(_.asInstanceOf[Long]))
        requireWeights(e.length, ws.length, ws.min, ws.max)
      }
      val totw = e.groupMapReduce(_(0))(_(2).asInstanceOf[Long])(_ + _)
      val show = CatalystTypeConverters.createToScalaConverter(
        ewt.edges.schema("dst").dataType)
      requireNoDangling(e.iterator.map(_(1)).filterNot(totw.contains)
        .distinct.take(6).map(v => String.valueOf(show(v))).toSeq)
      val teleported: Any => Boolean = seeds.fold[Any => Boolean](_ => true)(
        s => GraphInput.collectKeyed(seedNodes(nodes, s), "node")
          .map(_(0)).toSet)
      val (tp, r0) = teleport(totw.keys.count(teleported))
      var r = totw.map { case (v, _) => v -> (if (teleported(v)) r0 else 0L) }
      (1 to iters).foreach { _ =>
        val s = localShares(e, r, totw)
        r = r.map { case (v, _) =>
          v -> ((if (teleported(v)) tp else 0L) + 85L * s.getOrElse(v, 0L) / 100L)
        }
      }
      localRanks(nodes, r)
    } {
      val chain = ewt.chain
      val e = ewt.edges
      if (weighted) {
        val b = e.agg(count(col("w")), min(col("w")), max(col("w"))).head()
        requireWeights(ewt.m, b.getLong(0), b.getLong(1), b.getLong(2))
      }
      requireNoDangling(e.select(col("dst"))
        .join(e.select(col("src").as("dst")), Seq("dst"), "left_anti")
        .distinct()
        .limit(6).collect().map(r => String.valueOf(r.get(0))).toSeq)
      val flagged = seeds.fold(nodes.withColumn("__seed", lit(true)))(s =>
        nodes.join(s.select(col("node"), lit(true).as("__seed")).distinct(),
          Seq("node"), "left"))
      val (tp, r0) = teleport(flagged.where(col("__seed")).count())
      // The node spine: every node. Each round's aggregation only
      // yields rows for nodes with IN-edges; left-joining the shares
      // back onto the spine keeps zero-in-degree nodes (out-edges only
      // — ubiquitous in crawl graphs) in the frame at rank = teleport,
      // so their outgoing contributions survive into the next round
      // instead of silently vanishing. PINNED: every round joins
      // against it.
      val spine = chain.pin(flagged.select(col("node"),
        when(col("__seed"), tp).otherwise(0L).as("tp"),
        when(col("__seed"), r0).otherwise(0L).as("r0"), col("totw")))
      var ranks = spine.select(col("node"), col("r0").as("r"), col("totw"))
      (1 to iters).foreach { i =>
        val next = spine.join(
            e.join(ranks, e("src") === ranks("node"))
              .select(col("dst"), expr("(r * w) div totw").as("share"))
              .groupBy(col("dst").as("node"))
              .agg(sum(col("share")).as("s")), Seq("node"), "left")
          .select(col("node"),
            (col("tp") + expr("(85 * coalesce(s, 0L)) div 100")).as("r"),
            col("totw"))
        // the LAST round always cuts: the returned frame must be a
        // zero-exchange read of the materialized fixpoint (the
        // registered rows' memo/probe contract, pinned by
        // PlanRegressionSpec)
        ranks = if (i == iters || i % CutStride == 0) chain.cut(next) else next
      }
      chain.sealIfReliable(
        ranks.select(col("node"), col("r").as("rank_scaled")))
    }
  }

  /** One round's shares on the driver: Σ over each node's in-edges of
    * `(r(src) * w) div totw(src)`, edges whose src has no rank skipped
    * (the distributed inner join).
    */
  private def localShares(edges: Array[Array[Any]], r: Map[Any, Long],
                          totw: Map[Any, Long]): Map[Any, Long] = {
    val s = scala.collection.mutable.HashMap.empty[Any, Long]
    edges.foreach { x =>
      r.get(x(0)).foreach { rank =>
        s(x(1)) = s.getOrElse(x(1), 0L) +
          rank * x(2).asInstanceOf[Long] / totw(x(0))
      }
    }
    s.toMap
  }

  /** Driver ranks as the (node, rank_scaled) result, the node column
    * typed as `nodes`' `node`.
    */
  private def localRanks(nodes: DataFrame, r: Map[Any, Long]): DataFrame =
    GraphInput.localResult(nodes.sparkSession, Seq(nodes.schema("node")),
      Seq(StructField("rank_scaled", LongType)),
      r.map { case (v, x) => Seq(v, x) })

  /** The weighted edge frame (src, dst, w) — w per edge, uniform
    * lit(1) for the classic form — pinned on `chain` with its row count
    * observed for the size rule. An edge with a NULL src matches no
    * rank row, so it carries no rank and is dropped here. An edge with
    * a NULL dst refuses loudly: its share would reach no node (the
    * spine's join never matches NULL), and the two paths would differ
    * on where it goes. Its count rides the pin, so the guard costs no
    * job.
    */
  private def pinWeighted(chain: Checkpoints.Chain, edges: DataFrame,
                          w: Column): GraphInput.Pinned = {
    val nulls = Observation()
    val pinned = GraphInput.pinCounted(chain,
      edges.where(col("src").isNotNull)
        .select(col("src"), col("dst"), w.cast(LongType).as("w"))
        .observe(nulls, count(when(col("dst").isNull, 1)).as("n")),
      "src", "dst")
    val n = nulls.get.getOrElse("n", 0L).asInstanceOf[Long]
    require(n == 0L, s"PageRank: $n edges carry a NULL dst — the rank " +
      "mass sent along them would silently vanish; repair the edge feed")
    pinned
  }

  /** (node, totw): every src with the total weight of its out-edges,
    * the divisor of its per-edge shares. The rank frame carries it, so
    * a round's one edge join brings both r and totw.
    */
  private def outWeights(ewt: DataFrame): DataFrame =
    ewt.groupBy(col("src").as("node")).agg(sum(col("w")).as("totw"))

  /** The `seeds` that are nodes of the graph (`nodes`' node type). */
  private def seedNodes(nodes: DataFrame, seeds: DataFrame): DataFrame =
    nodes.join(seeds.select(col("node")), Seq("node"), "left_semi")
      .select(col("node"))

  /** (tp, r0) for `ns` teleport nodes — refusing an empty seed set. */
  private def teleport(ns: Long): (Long, Long) = {
    require(ns > 0, "PageRank.runPersonalized: no seed is in the graph")
    val r0 = Scale / ns
    (15L * r0 / 100L, r0)
  }

  /** The weighted face's guards over `total` edges, `nonNull` of them
    * with a weight in [`lo`, `hi`] (read only when every edge has one).
    */
  private def requireWeights(total: Long, nonNull: Long, lo: => Long,
                             hi: => Long): Unit = {
    // min/max SKIP nulls, so a null-weighted edge would otherwise pass
    // the bounds checks and then silently drop its rank mass in the loop
    require(nonNull == total,
      s"PageRank.runWeighted: ${total - nonNull} edges carry a " +
        "NULL weight — their rank mass would silently vanish")
    require(lo >= 1L, "PageRank.runWeighted: weights must be positive")
    require(hi <= MaxWeight,
      s"PageRank.runWeighted: max weight $hi exceeds " +
        s"$MaxWeight — r*w would overflow the integer lattice")
  }

  /** Loud dangling-node guard (header contract): any node appearing as
    * `dst` but never as `src` fails the run, naming up to five of the
    * `offenders` (at most six are gathered).
    */
  private def requireNoDangling(offenders: Seq[String]): Unit =
    if (offenders.nonEmpty) {
      val shown = offenders.take(5).mkString(", ") +
        (if (offenders.length > 5) ", ..." else "")
      throw new IllegalArgumentException(
        s"PageRank: dangling node(s) appear as dst but never as src " +
          s"($shown) — rank mass flowing into them would silently " +
          "vanish (they get no spine row and no out-shares); give " +
          "every node an out-edge, or redistribute dangling mass " +
          "upstream before ranking")
    }

  /** @param edges  columns `src`, `dst` (node ids); every node
    *               referenced must appear as a `src` at least once
    * @param iters  fixed iteration count (both engines unroll the same K)
    * @return (node, rank_scaled) — one row per node, rank in SCALE units.
    *         Sink nodes (dst but never src) FAIL LOUDLY; callers with
    *         genuinely dangling graphs use [[runDanglingRedistributed]].
    */
  def run(spark: SparkSession, edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val chain = Checkpoints.chain() // reliable-policy file GC
    loop(pinWeighted(chain, edges, lit(1L)), iters, weighted = false, None)
  }

  /** Weighted form: `edges` carries a positive integer weight column
    * `w` (e.g. the LINK COUNT between two hosts — the natural weight a
    * crawl graph provides); a node's rank splits proportionally,
    * share(u→v) = (r(u)·w(u,v)) div (Σ_x w(u,x)). Weights are loudly
    * bounded by [[MaxWeight]] (one metadata-plane aggregate on the
    * pinned frame, or a pass over the collected edges on the driver
    * path) so the BIGINT product cannot wrap; NULL and non-positive
    * weights refuse too.
    */
  def runWeighted(spark: SparkSession, edges: DataFrame,
                  iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val chain = Checkpoints.chain() // reliable-policy file GC
    loop(pinWeighted(chain, edges, col("w")), iters, weighted = true, None)
  }

  /** Dangling-tolerant form — the redistribution face the loud guard
    * points callers at. The node set here is src ∪ dst (sinks get
    * rows), and each round the mass sitting on dangling nodes is
    * redistributed UNIFORMLY before damping (the classic
    * dangling-vector treatment with v = 1/n):
    *
    *   dang_k     = Σ_{u dangling} r_k(u)
    *   r_{k+1}(v) = tp + (85 * (Σ shares(v) + dang_k div n)) div 100
    *
    * Integer lattice as everywhere (nonnegative BIGINTs, truncating
    * div == floor), so the result is bit-identical cross-engine. Per
    * iteration this adds ONE tiny aggregate (the dangling-rank sum — a
    * 1-row frame cross-joined back, never a driver collect) to the
    * classic join + aggregation; the spine carries a has_out flag so
    * the dangling filter is a map-side predicate.
    */
  def runDanglingRedistributed(spark: SparkSession, edges: DataFrame,
                               iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val chain = Checkpoints.chain() // reliable-policy file GC
    val pinned = pinWeighted(chain, edges, lit(1L))
    val ewt = pinned.edges
    // node set from the PINNED ewt, not the raw argument — the raw
    // frame would re-run the caller's edge derivation twice (once per
    // action) instead of reading the pin
    val nodes = ewt.select(col("src").as("node"))
      .union(ewt.select(col("dst").as("node"))).distinct()
    pinned.finish {
      val e = pinned.collectKeyed()
      val totw = e.groupMapReduce(_(0))(_(2).asInstanceOf[Long])(_ + _)
      val hasOut = totw.keySet
      val all = (e.map(_(0)) ++ e.map(_(1))).distinct
      val n = all.length.toLong
      require(n > 0, "PageRank: empty graph")
      val r0 = Scale / n
      val tp = 15L * r0 / 100L
      var r = all.map(_ -> r0).toMap
      var dm = all.count(!hasOut(_)) * r0
      (1 to iters).foreach { _ =>
        val s = localShares(e, r, totw)
        val perNode = dm / n // the round's literal, as in the plan
        r = all.map(v =>
          v -> (tp + 85L * (s.getOrElse(v, 0L) + perNode) / 100L)).toMap
        dm = all.filterNot(hasOut).map(r).sum
      }
      localRanks(nodes, r)
    } {
      val n = nodes.count() // ONE driver scalar: |V| over src ∪ dst
      require(n > 0, "PageRank: empty graph")
      val r0 = Scale / n
      val tp = 15L * r0 / 100L
      // the dangling-node count rides the spine pin (one action): round
      // 1's dangling mass is n_dang * r0 on the driver, and every later
      // round's rides its cut's Observation below (r21 — was a separate
      // 1-row aggregate subtree + crossJoin built into every round's
      // plan, i.e. one extra scan of the ranks cut per round)
      val obsSpine = Observation()
      val spine = chain.pin(nodes.join(outWeights(ewt), Seq("node"), "left")
        .select(col("node"), col("totw").isNotNull.as("has_out"),
          col("totw"))
        .observe(obsSpine,
          count(when(!col("has_out"), 1)).as("n_dang")))
      var ranks = spine.select(col("node"), col("has_out"), col("totw"),
        lit(r0).as("r"))
      var dm = obsSpine.get("n_dang").asInstanceOf[Long] * r0
      (1 to iters).foreach { i =>
        val shares = ewt.join(ranks, ewt("src") === ranks("node"))
          .select(col("dst"), expr("(r * w) div totw").as("share"))
          .groupBy(col("dst").as("node"))
          .agg(sum(col("share")).as("s"))
        // dm enters as a LITERAL (dm div n is the same truncating
        // nonnegative division on the driver as in-plan)
        val next = spine.join(shares, Seq("node"), "left")
          .select(col("node"), col("has_out"), col("totw"),
            (lit(tp) +
              expr(s"(85 * (coalesce(s, 0L) + ${dm / n}L)) div 100"))
              .as("r"))
        // Deliberately cut EVERY round here, unlike [[loop]]: ranks is
        // referenced TWICE per round (the dangling mass + shares), so
        // an un-cut plan doubles per round and the duplicated subtrees
        // schedule their own AQE stage jobs — measured 47 -> 78 jobs
        // and 1.5 -> 3.3 s on the registered row when this loop tried
        // the CutStride form (exchange reuse does not fully dedupe
        // across the doubled tree). The single-reference classic loop
        // strides; this one materializes — and the NEXT round's
        // dangling mass rides the materialization as an Observation.
        val obs = Observation()
        ranks = chain.cut(next.observe(obs,
          coalesce(sum(when(!col("has_out"), col("r"))), lit(0L))
            .as("dm")))
        dm = obs.get("dm").asInstanceOf[Long]
      }
      chain.sealIfReliable(
        ranks.select(col("node"), col("r").as("rank_scaled")))
    }
  }

  /** Personalized (topic-sensitive) form: teleport mass goes ONLY to
    * the `seeds` node set — rank measures link-proximity to the seeds.
    * Initial rank = the teleport vector (SCALE div |S| on seeds, 0
    * elsewhere), the classic PPR start. Seeds not present in the graph
    * are ignored (they get no spine row); an empty intersection fails
    * loudly.
    */
  def runPersonalized(spark: SparkSession, edges: DataFrame,
                      seeds: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val chain = Checkpoints.chain() // reliable-policy file GC
    loop(pinWeighted(chain, edges, lit(1L)), iters, weighted = false,
      Some(seeds))
  }
}
