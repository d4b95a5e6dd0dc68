package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

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
  * get an output row — so every face FAILS LOUDLY on such nodes (one
  * metadata-plane anti-join on the persisted edge frame, naming
  * offenders). Callers with genuinely dangling graphs either add
  * self-loops / back-edges upstream, or redistribute dangling mass
  * before calling (the classic fix is dst → every node, which is a
  * dense edge set and therefore an upstream modeling decision, not a
  * silent default here).
  *
  * Scale notes (100 TB): per iteration ONE join of the edge list with
  * the rank frame on `src` and ONE aggregation on `dst` — both key
  * shuffles of the edge list; the rank frame is |V| rows (≪ |E|) and is
  * `localCheckpoint`ed per round so the loop's lineage stays flat (use
  * a reliable checkpoint dir on a real cluster). The edge list is
  * weight-annotated ONCE and persisted; the driver holds only the node
  * count (one metadata-plane scalar).
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

  /** The shared iteration core. `ewt` must carry (src, dst, w, totw)
    * and be persisted by the caller; `init` carries one row per node
    * with its teleport term and initial rank.
    */
  private def loop(ewt: DataFrame, init: DataFrame, iters: Int): DataFrame = {
    val chain = graft.plans.Checkpoints.chain() // reliable-policy file GC
    // The node spine: every node. Each round's aggregation only yields
    // rows for nodes with IN-edges; left-joining the shares back onto
    // the spine keeps zero-in-degree nodes (out-edges only — ubiquitous
    // in crawl graphs) in the frame at rank = teleport, so their
    // outgoing contributions survive into the next round instead of
    // silently vanishing. PINNED: every round joins against it.
    val spine = chain.pin(init)
    var ranks = spine.select(col("node"), col("r0").as("r"))
    (1 to iters).foreach { i =>
      val next = spine.join(
          ewt.join(ranks, ewt("src") === ranks("node"))
            .select(col("dst"), expr("(r * w) div totw").as("share"))
            .groupBy(col("dst").as("node"))
            .agg(sum(col("share")).as("s")), Seq("node"), "left")
        .select(col("node"),
          (col("tp") + expr("(85 * coalesce(s, 0L)) div 100")).as("r"))
      // the LAST round always cuts: the returned frame must be a
      // zero-exchange read of the materialized fixpoint (the registered
      // rows' memo/probe contract, pinned by PlanRegressionSpec)
      ranks = if (i == iters || i % CutStride == 0) chain.cut(next) else next
    }
    chain.sealIfReliable(ranks.select(col("node"), col("r").as("rank_scaled")))
  }

  /** Loud dangling-node guard (header contract): any node appearing as
    * `dst` but never as `src` fails the run, naming up to five
    * offenders. One metadata-plane job — two distincts + an anti-join
    * on the already-persisted edge frame, collecting at most six rows.
    */
  private def requireNoDangling(ewt: DataFrame): Unit = {
    val offenders = ewt.select(col("dst"))
      .join(ewt.select(col("src").as("dst")), Seq("dst"), "left_anti")
      .distinct()
      .limit(6).collect().map(r => String.valueOf(r.get(0)))
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
  }

  /** Weight-annotate an edge list: w per edge (uniform lit(1) for the
    * classic form), totw = Σw per src.
    */
  private def annotate(edges: DataFrame, w: Column): DataFrame = {
    val weighted = edges.select(col("src"), col("dst"),
      w.cast(LongType).as("w"))
    val tot = weighted.groupBy(col("src").as("node"))
      .agg(sum(col("w")).as("totw"))
    weighted.join(tot.select(col("node").as("src"), col("totw")), "src")
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
    val ewt = annotate(edges, lit(1L)).persist() // reused every round
    try {
      requireNoDangling(ewt)
      val nodes = ewt.select(col("src").as("node")).distinct()
      val n = nodes.count() // ONE driver scalar: |V|
      require(n > 0, "PageRank: empty graph")
      val r0 = Scale / n
      val tp = 15L * r0 / 100L
      loop(ewt, nodes.select(col("node"), lit(tp).as("tp"),
        lit(r0).as("r0")), iters)
    } finally ewt.unpersist()
  }

  /** Weighted form: `edges` carries a positive integer weight column
    * `w` (e.g. the LINK COUNT between two hosts — the natural weight a
    * crawl graph provides); a node's rank splits proportionally,
    * share(u→v) = (r(u)·w(u,v)) div (Σ_x w(u,x)). Weights are loudly
    * bounded by [[MaxWeight]] (one metadata-plane aggregate on the
    * persisted frame) so the BIGINT product cannot wrap.
    */
  def runWeighted(spark: SparkSession, edges: DataFrame,
                  iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val ewt = annotate(edges, col("w")).persist()
    try {
      // one metadata-plane aggregate covers every guard: emptiness,
      // NULL weights (min/max SKIP nulls, so a null-weighted edge would
      // otherwise pass the bounds checks and then silently drop its
      // rank mass in the loop), positivity, and the overflow cap
      val b = ewt.agg(count(lit(1)), count(col("w")),
        min(col("w")), max(col("w"))).head()
      val total = b.getLong(0)
      require(total > 0, "PageRank: empty graph")
      require(b.getLong(1) == total,
        s"PageRank.runWeighted: ${total - b.getLong(1)} edges carry a " +
          "NULL weight — their rank mass would silently vanish")
      require(b.getLong(2) >= 1L,
        "PageRank.runWeighted: weights must be positive")
      require(b.getLong(3) <= MaxWeight,
        s"PageRank.runWeighted: max weight ${b.getLong(3)} exceeds " +
          s"$MaxWeight — r*w would overflow the integer lattice")
      requireNoDangling(ewt)
      val nodes = ewt.select(col("src").as("node")).distinct()
      val n = nodes.count()
      val r0 = Scale / n
      val tp = 15L * r0 / 100L
      loop(ewt, nodes.select(col("node"), lit(tp).as("tp"),
        lit(r0).as("r0")), iters)
    } finally ewt.unpersist()
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
    val ewt = annotate(edges, lit(1L)).persist()
    try {
      // node set from the PERSISTED ewt, not the raw argument — the
      // raw frame would re-run the caller's edge derivation twice
      // (once per action) instead of reading the cache
      val nodes = ewt.select(col("src").as("node"))
        .union(ewt.select(col("dst").as("node"))).distinct()
      val n = nodes.count() // ONE driver scalar: |V| over src ∪ dst
      require(n > 0, "PageRank: empty graph")
      val r0 = Scale / n
      val tp = 15L * r0 / 100L
      val chain = graft.plans.Checkpoints.chain() // reliable-policy file GC
      // the dangling-node count rides the spine pin (one action): round
      // 1's dangling mass is n_dang * r0 on the driver, and every later
      // round's rides its cut's Observation below (r21 — was a separate
      // 1-row aggregate subtree + crossJoin built into every round's
      // plan, i.e. one extra scan of the ranks cut per round)
      val obsSpine = org.apache.spark.sql.Observation()
      val spine = chain.pin(nodes.join(
          ewt.select(col("src").as("node")).distinct()
            .withColumn("__o", lit(true)), Seq("node"), "left")
        .select(col("node"), coalesce(col("__o"), lit(false)).as("has_out"))
        .observe(obsSpine,
          count(when(!col("has_out"), 1)).as("n_dang")))
      var ranks = spine.select(col("node"), col("has_out"),
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
          .select(col("node"), col("has_out"),
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
        val obs = org.apache.spark.sql.Observation()
        ranks = chain.cut(next.observe(obs,
          coalesce(sum(when(!col("has_out"), col("r"))), lit(0L))
            .as("dm")))
        dm = obs.get("dm").asInstanceOf[Long]
      }
      chain.sealIfReliable(
        ranks.select(col("node"), col("r").as("rank_scaled")))
    } finally ewt.unpersist()
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
    val ewt = annotate(edges, lit(1L)).persist()
    try {
      requireNoDangling(ewt)
      val nodes = ewt.select(col("src").as("node")).distinct()
      val flagged = nodes.join(
        seeds.select(col("node"), lit(true).as("__seed")).distinct(),
        Seq("node"), "left")
      val ns = flagged.where(col("__seed")).count() // metadata scalar
      require(ns > 0, "PageRank.runPersonalized: no seed is in the graph")
      val r0 = Scale / ns
      val tp = 15L * r0 / 100L
      loop(ewt, flagged.select(col("node"),
        when(col("__seed"), tp).otherwise(0L).as("tp"),
        when(col("__seed"), r0).otherwise(0L).as("r0")), iters)
    } finally ewt.unpersist()
  }
}
