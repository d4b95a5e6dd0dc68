package graft.operators


import graft.plans.Checkpoints
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Synchronous label propagation (Raghavan et al. 2007, "Near linear
  * time algorithm to detect community structures") — community
  * detection, the signal [[ConnectedComponents]] cannot give on a
  * CONNECTED graph: components answer "is there any path", LPA answers
  * "where do the dense blocks sit". Curation uses it to find mirror
  * farms and topic pockets inside one giant crawl component.
  *
  * Semantics (pinned, both engines): labels start as the node's own
  * id; each round every node adopts the most frequent label among its
  * neighbors, ties to the LEXICOGRAPHICALLY SMALLEST label; all nodes
  * update simultaneously (synchronous). The report is the labeling
  * after exactly `rounds` rounds — classic synchronous LPA can
  * oscillate on bipartite structures, so a fixed round count is the
  * deterministic contract (the PageRank fixed-iteration discipline),
  * not a fixpoint claim. Everything is counts and string ordering —
  * no floats, no RNG — so any engine reproduces the rows bit-for-bit.
  *
  * Scale notes (100 TB): each round is one edge-keyed join against
  * the |V|-row label frame, one (node, label) count aggregate
  * (map-side combinable), and one per-node argmax window whose
  * partition is bounded by the node's distinct neighbor-label count —
  * never a global or corpus-sized sort. Labels are lineage-cut per
  * round (graft.plans.Checkpoints — localCheckpoint by default,
  * reliable checkpoint under spark.graft.checkpoint.dir). A graph
  * whose pin fits `spark.sql.autoBroadcastJoinThreshold`
  * ([[GraphInput]]'s size rule) runs [[run]]'s rounds on the driver
  * over the collected neighbor lists, ties broken in Spark's order of
  * the label type; larger graphs keep the distributed loop.
  * Input tolerance and guards are [[GraphInput]]'s, as in
  * [[Triangles.localCounts]].
  */
object LabelPropagation {

  /** Guard wording (empty advice, NULL consequence) of the faces that
    * refine a labeling and of the faces that measure one.
    */
  private val Refining = (
    "refine against the SAME edges the labeling was computed on",
    "their gains would silently vanish")
  private val Measuring = (
    "measure against the SAME edges the labeling was computed on",
    "they would silently deflate m and skew the reported num/den/ppm")

  /** The frames every modularity-lattice face reads, over ONE guarded
    * canonical pin ([[GraphInput]]): `m` rides the pin and enters plans
    * as a 1-row LOCAL frame (the per-round crossJoin(broadcast(m))
    * broadcasts driver-local data instead of scheduling a count job per
    * consumer plan), and the degree frame is pinned because every
    * round or measured state reads it. The caller finishes `chain`.
    */
  private final case class GraphFrames(chain: Checkpoints.Chain,
                                       canon: DataFrame, m: DataFrame,
                                       deg: DataFrame) {
    /** (node, nbr, w = 1) — a map-only derivation over the pin. */
    def adjW: DataFrame =
      GraphInput.adjacency(canon).withColumn("w", lit(1L))
  }

  private def graphFrames(edges: DataFrame, who: String,
                          wording: (String, String)): GraphFrames = {
    val spark = edges.sparkSession
    import spark.implicits._
    val chain = Checkpoints.chain() // reliable-policy file GC
    val g = GraphInput.undirected(chain, edges, who, wording._1, wording._2)
    GraphFrames(chain, g.edges, Seq(g.m).toDF("m"),
      chain.pin(GraphInput.degrees(g.edges)))
  }

  /** @param edges  columns `src`, `dst` (undirected; canonicalized)
    * @param rounds fixed synchronous update rounds (>= 1)
    * @return (node, community) after exactly `rounds` rounds
    */
  def run(spark: SparkSession, edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"LabelPropagation: rounds must be >= 1, got $rounds")
    val chain = Checkpoints.chain() // reliable-policy file GC
    val pinned = GraphInput.undirected(chain, edges,
      "LabelPropagation", "land edges before labeling",
      "their votes would silently vanish from every neighborhood")
    pinned.finish(runLocal(spark, pinned, rounds))(
      runPinned(chain, pinned.edges, rounds))
  }

  /** The distributed rounds over the pinned canonical edges. */
  private def runPinned(chain: Checkpoints.Chain, canon: DataFrame,
                        rounds: Int): DataFrame = {
    // read every round: a map-only derivation over the pinned canon
    val adj = GraphInput.adjacency(canon)
    var labels = adj.select(col("node")).distinct()
      .select(col("node"), col("node").as("community"))
    val byVote = Window.partitionBy(col("node"))
      .orderBy(col("cnt").desc, col("community"))
    (1 to rounds).foreach { i =>
      labels = adj
        .join(labels.select(col("node").as("nbr"), col("community")),
          "nbr")
        .groupBy(col("node"), col("community"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("__rn", row_number().over(byVote))
        .where(col("__rn") === 1)
        .select(col("node"), col("community"))
      // FIXED round count, each round references the previous labels
      // exactly once — the plan grows linearly, so intermediate cuts
      // were pure materialization overhead (guide §5); one cut per
      // CutStride rounds bounds plan depth and the reliable-policy
      // recompute window, and the LAST round always cuts so the
      // returned (memoized, thrice-probed) frame is a zero-recompute
      // read of the materialized labeling.
      if (i == rounds || i % Checkpoints.CutStride == 0)
        labels = chain.cut(labels)
    }
    chain.sealIfReliable(labels)
  }

  /** [[run]] on the driver: every node adopts its neighbors' most
    * frequent label, ties to the smallest in Spark's order.
    */
  private def runLocal(spark: SparkSession, canon: GraphInput.Pinned,
                       rounds: Int): DataFrame = {
    val nbrs = GraphInput.localNeighbors(canon)
    var labels: Map[Any, Any] = nbrs.map { case (v, _) => v -> v }
    (1 to rounds).foreach { _ =>
      labels = nbrs.map { case (v, ns) =>
        val votes = ns.groupMapReduce(labels)(_ => 1L)(_ + _)
        val top = votes.values.max
        v -> votes.collect { case (l, c) if c == top => l }
          .min(GraphInput.keyOrder)
      }
    }
    val node = GraphInput.adjacency(canon.edges).schema("node")
    GraphInput.localResult(spark,
      Seq(node, node.copy(name = "community")), Nil,
      labels.map { case (v, l) => Seq(v, l) })
  }

  /** One synchronous MODULARITY local-move round — Louvain's move
    * phase (Blondel et al. 2008) made deterministic and
    * oscillation-FREE for the distributed synchronous setting: node v
    * in community a may move only to a STRICTLY SMALLER-labeled
    * neighbor community c < a, taking the largest integer-lattice gain
    * Δ·4m² = 4m·(k_vc − k_va) − 2·deg_v·(d_c − d_a + deg_v) when that
    * gain is positive (ties to the smallest c), all nodes
    * simultaneously against the PRE-round sums. The down-label rule is
    * what kills the classic synchronous pathology — two communities
    * swapping wholesale forever: only the larger-labeled side can ever
    * move, so labels descend monotonically and iterated rounds
    * terminate. The price of synchrony stays honest: per-move gains
    * are exact against the pre-round labeling, but simultaneous moves
    * interact, so the ROUND total is measured (the [[modularity]] A/B
    * the registered row carries), never assumed — the LPA
    * fixed-rounds discipline.
    *
    * Scale notes: one [[run]]-round-shaped job — the (node, community)
    * neighbor-label count, two broadcast community-sum joins
    * (communities-sized), a per-node argmax window bounded by the
    * node's distinct neighbor labels. Gains are BIGINT-exact while
    * 4m² fits a long (m ≤ ~1.5e9 edges — the [[modularity]] bound).
    *
    * @param labels (node, community) — e.g. [[run]]'s output
    * @param edges  the SAME edge frame the labeling was computed on
    * @return (node, community) after the one move round
    */
  def refineOnce(labels: DataFrame, edges: DataFrame): DataFrame = {
    // the run() guards: a silently empty/NULL-degraded edge frame would
    // strip every candidate and return the input labeling while looking
    // like a clean no-gain round
    val g = graphFrames(edges, "refineOnce", Refining)
    g.chain.sealIfReliable(refineOnceOnW(g.adjW, g.m, withDeg(labels, g.deg))
      .select(col("node"), col("community")))
  }

  /** Attach each labeled node's degree to the label frame — the
    * deg-CARRYING label shape [[refineOnceOnW]]/[[modularityOnD]] read
    * (r21, guide §2.4): the loops re-join `deg` against the labels
    * once per round (dsum) plus once per candidate frame (rows) — two
    * label-frame exchanges per round for a value that never changes.
    * Carrying `deg` as a column through each round's one
    * materialization costs 8 bytes/row and deletes both joins. LEFT
    * join: a labeled node with no edge in this frame keeps a NULL deg
    * (it can never move, and the `deg IS NOT NULL` filters below
    * mirror the old inner joins exactly).
    */
  private def withDeg(labels: DataFrame, deg: DataFrame): DataFrame =
    labels.select(col("node"), col("community"))
      .join(deg, Seq("node"), "left")

  /** The WEIGHTED move round — the general core [[louvainPhases]]'
    * contracted levels need (Blondel et al. 2008 §2: the community
    * graph carries inter-community edge WEIGHTS and self-loops; the
    * self-loops live in `deg` (×2) and `m`, never in `adjW`, so the
    * same down-label gain formula applies with k = Σw):
    * Δ·4m² = 4m·(k_vc − k_va) − 2·deg_v·(d_c − d_a + deg_v).
    * `adjW` carries (node, nbr, w); `labD` is the deg-CARRYING label
    * frame ([[withDeg]] — node, community, deg with the caller's full
    * weighted self-loop-inclusive degree, NULL on edge-less nodes);
    * `m` the 1-row total weight. Returns (node, community, deg,
    * __moved) so iterated rounds re-enter without a re-join.
    * Everything stays on the exact integer lattice.
    */
  private def refineOnceOnW(adjW: DataFrame, m: DataFrame,
                            labD: DataFrame): DataFrame = {
    val lab = labD.select(col("node"), col("community"), col("deg"))
    // community degree sums from the CARRIED degrees (r21; was a
    // lab⋈deg join per round — guide §2.4). The null filter mirrors
    // the old inner join: edge-less labeled nodes contributed nothing.
    val dsum = lab.where(col("deg").isNotNull)
      .groupBy(col("community")).agg(sum(col("deg")).as("dc"))
    // kv is REPARTITIONED by node between the neighbor join and the
    // aggregate (r21, guide §2.4 "two operations keyed the same way
    // share one exchange"): hash(node) satisfies the (node, community)
    // grouping's clustering, so the aggregate runs on that exchange AND
    // the rows join + both candidate windows below reuse it — the old
    // (node, community)-hashed aggregate forced one more full kv
    // exchange before the node-keyed join. Byte-sized AQE coalescing
    // applies as usual (graph rounds are byte-heavy at scale).
    val kv = adjW
      .join(lab.select(col("node").as("nbr"), col("community")), "nbr")
      .select(col("node"), col("community"), col("w"))
      .repartition(col("node"))
      .groupBy(col("node"), col("community")).agg(sum(col("w")).as("k"))
    // ONE node-partitioned frame carries everything the gain needs —
    // own community `a`, degree, per-neighbor-community weights `k` —
    // and k_a comes from a WINDOW over that same node partitioning
    // (optimization guide §2.4: two operations keyed the same way
    // share one exchange). The candidate windows (k_a, then the gain
    // argmax) both ride the node partitioning the join established.
    val byNode = Window.partitionBy(col("node"))
    val rows = kv
      .join(lab.select(col("node"), col("community").as("a"), col("deg")),
        "node")
      .withColumn("k_a", coalesce(
        max(when(col("community") === col("a"), col("k"))).over(byNode),
        lit(0L)))
    // ONE broadcast build serves BOTH community-sum joins (r21): the
    // two build subtrees are byte-identical, so exchange reuse dedupes
    // them — the join-key difference (c vs a) sits above the exchange.
    val dsumB = dsum.select(col("community").as("__dcomm"), col("dc"))
    val cand = rows.where(col("community") < col("a"))
      .withColumnRenamed("community", "c")
      .join(broadcast(dsumB), col("c") === col("__dcomm"))
      .withColumnRenamed("dc", "d_c").drop("__dcomm")
      .join(broadcast(dsumB), col("a") === col("__dcomm"))
      .withColumnRenamed("dc", "d_a").drop("__dcomm")
      .crossJoin(broadcast(m)) // 1-row frame (LOCAL in the loops)
      .withColumn("delta",
        lit(4L) * col("m") * (col("k") - col("k_a"))
          - lit(2L) * col("deg") * (col("d_c") - col("d_a") + col("deg")))
    val byGain = Window.partitionBy(col("node"))
      .orderBy(col("delta").desc, col("c"))
    val pick = cand.where(col("delta") > 0)
      .withColumn("__rn", row_number().over(byGain))
      .where(col("__rn") === 1)
      .select(col("node"), col("c"))
    // the output covers EVERY input label row (left join from `lab`,
    // not from the edge-joined frame): a labeled node with no edge in
    // this frame cannot move, but silently DROPPING it would shrink a
    // refreshed community artifact relative to its input labeling.
    // __moved rides along (pick fired ⟺ the label changed — a pick's
    // c < a strictly, so it always differs): the loops' convergence
    // count becomes an Observation on the round's ONE materialization
    // instead of a second action per round (the KCore discipline).
    // deg rides the output so the NEXT round needs no re-join.
    lab.join(pick, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("c"), col("community")).as("community"),
        col("deg"),
        col("c").isNotNull.as("__moved"))
  }

  /** Iterated Louvain move phase (Blondel et al. 2008) to a GAIN
    * FIXPOINT: loop [[refineOnce]] until a round moves no node, with a
    * loud round cap. Termination is guaranteed by the down-label
    * contract — labels strictly descend on every moved node, so the
    * label multiset is a strictly decreasing well-order and the loop
    * cannot cycle; the cap is a cost bound, not a correctness crutch,
    * and a capped run REFUSES (the KCore ladder discipline: a
    * non-fixpoint labeling published as "refined" would mislabel every
    * community a later round would have merged).
    *
    * Measure-don't-assume: synchronous simultaneous moves interact, so
    * per-round modularity gain is MEASURED into the returned trace,
    * never assumed monotone — one (round, moved, modularity) row per
    * round, round 0 = the input labeling. On the registered fixture
    * the curve is: 11,590 ppm → 452,032 ppm in round 1 (the bipartite
    * halves merge), fixpoint proven at round 2 (moved = 0) — one
    * plateau, already at the structural optimum on THAT fixture. A
    * corpus whose move trace plateaus BELOW its optimum (the
    * resolution-limit shape) takes the remaining climb through the
    * contraction ladder — [[louvainPhases]], whose dumbbell row
    * measures exactly that second climb.
    *
    * Scale notes: each round costs one [[refineOnce]] plus one
    * label-compare count and one [[modularity]] measurement — all
    * LPA-round-shaped jobs; the trace itself is O(rounds) driver rows.
    * Every round's labels are pinned on one [[Checkpoints]] chain.
    *
    * @return trace (round, moved, communities, m_edges,
    *         modularity_num, modularity_den, modularity_ppm) — the
    *         last row's labeling is the gain fixpoint
    */
  def refineTrace(labels: DataFrame, edges: DataFrame,
                  maxRounds: Int): DataFrame = {
    require(maxRounds >= 1,
      s"refineTrace: maxRounds must be >= 1, got $maxRounds")
    val spark = labels.sparkSession
    import spark.implicits._
    // guard + label-INdependent frames ONCE for the whole loop: the
    // guard and m ride the canon pin, only the degree frame needs its
    // own aggregate pass
    val g = graphFrames(edges, "refineTrace", Refining)
    val adjW = g.adjW
    // every round's labels are PINNED (the deferred one-action
    // measurement reads every round after the loop; a window cut's
    // files would be reclaimed mid-loop under the reliable policy) —
    // O(rounds) retention, reclaimed by the finisher. Labels enter the
    // loop deg-CARRYING (withDeg): the degree join happens ONCE here
    // instead of twice per round (r21, guide §2.4)
    var lab = g.chain.pin(withDeg(labels, g.deg))
    var states = Vector((0, 0L, lab))
    var moved = -1L
    var round = 0
    while (moved != 0L && round < maxRounds) {
      round += 1
      // ONE action per round: the moved count rides the pin's
      // materialization as an Observation on the __moved flag instead
      // of a second compare-join job (measured ~1 job per round off
      // the registered trace rows)
      val obs = org.apache.spark.sql.Observation()
      lab = g.chain.pin(refineOnceOnW(adjW, g.m, lab)
        .observe(obs, coalesce(sum(col("__moved").cast("long")),
          lit(0L)).as("mv")) // empty labeling: 0, not null
        .select(col("node"), col("community"), col("deg")))
      moved = obs.get("mv").asInstanceOf[Long]
      states :+= ((round, moved, lab))
    }
    require(moved == 0L,
      s"refineTrace: no fixpoint within $maxRounds rounds (last round " +
        s"still moved $moved nodes) — raise maxRounds; publishing a " +
        "non-fixpoint labeling as refined would mislabel the " +
        "communities later rounds merge")
    // ONE measurement action AND one measurement PLAN for the whole
    // trace (r21, guide §2.4 — was one modularity subplan per round
    // unioned): every round's pinned deg-carrying labels are tagged
    // with their round index and measured through modularityByState's
    // single set of joins. Rows are keyed by the tag — the contract is
    // the round column, not partition order.
    val tagged = states.map { case (r, _, l) =>
      l.select(lit(r.toLong).as("__st"), col("node"), col("community"),
        col("deg"))
    }.reduce(_ unionAll _)
    val byRound = modularityByState(g.canon, g.m, tagged).collect()
      .map(r => r.getLong(0) -> r).toMap
    // the trace is DRIVER-side rows: reclaim with no final cut (a seal
    // would park one labeling-sized frame per call forever AND pay a
    // wasted distributed write)
    g.chain.reclaimAll()
    states.flatMap { case (r, mv, _) =>
      byRound.get(r.toLong).map(row => (r.toLong, mv, row.getLong(1),
        row.getLong(2), row.getLong(3), row.getLong(4), row.getLong(5)))
    }.sortBy(_._1)
      .toDF("round", "moved", "communities", "m_edges", "modularity_num",
        "modularity_den", "modularity_ppm")
  }

  /** FULL Louvain (Blondel et al. 2008): iterate (move phase to a
    * gain fixpoint — [[refineTrace]]'s contract — then COMMUNITY
    * CONTRACTION) until a post-contraction move phase finds no gain.
    * The contraction is the phase the down-label node moves cannot
    * express: a whole community relocating at once, whose gain
    * arithmetic sees the community's total degree where a single
    * node's move is penalized by leaving its k_va neighbors behind —
    * the resolution-limit structure (Fortunato & Barthélémy 2007)
    * where merging adjacent blocks raises Q but no single node's move
    * does. The dumbbell fixture the registered row runs is exactly
    * that: phase 1 proves moved=0 at the clique labeling (a plateau
    * BELOW the structural optimum), phase 2's contracted move merges
    * every bridged clique pair (the measured second climb), phase 3
    * proves the post-contraction fixpoint.
    *
    * Semantics (pinned, both engines): phase 1 moves ORIGINAL nodes
    * from the input labeling; each later phase contracts communities
    * to supernodes (inter-community edge weights summed; intra weight
    * + member self-loops fold into the supernode's self-loop, which
    * enters degrees ×2 and m but never the adjacency — the Blondel
    * invariant, so modularity of the contracted labeling EQUALS
    * modularity of its flattening) and moves supernodes from
    * singletons under the same down-label weighted gain
    * ([[refineOnceOnW]]). Phases 1 and 2 always run (a node-level
    * plateau proves nothing about the contracted view); the loop
    * stops at the first phase ≥ 2 whose move total is 0. Loud caps on
    * both rounds and phases — a capped run REFUSES, never publishes a
    * non-fixpoint labeling (the refineTrace discipline).
    *
    * Measure-don't-assume: every round's modularity is measured on
    * the ORIGINAL graph with the FLATTENED labels (round 0 of each
    * phase re-measures the incoming labeling — the in-row proof that
    * contraction preserved Q). The trace IS the row:
    * (phase, round, moved, communities, m_edges, modularity_num,
    * modularity_den, modularity_ppm).
    *
    * Scale notes: a phase-1 round is one LPA-round-shaped job on the
    * original graph; every later level runs on the COMMUNITY graph
    * (≤ #communities nodes — orders smaller), so the whole ladder
    * costs a few original-graph rounds plus community-sized work;
    * lineage rides one Checkpoints chain. Integer lattice throughout
    * (weights are edge counts; the modularity bound m ≤ ~1.5e9
    * applies as documented there).
    */
  def louvainPhases(labels: DataFrame, edges: DataFrame,
                    maxRounds: Int, maxPhases: Int): DataFrame = {
    require(maxRounds >= 1,
      s"louvainPhases: maxRounds must be >= 1, got $maxRounds")
    require(maxPhases >= 2,
      s"louvainPhases: maxPhases must be >= 2, got $maxPhases — the " +
        "contracted view must be checked at least once before a " +
        "fixpoint claim")
    val spark = labels.sparkSession
    import spark.implicits._
    // level-0 graph (pinned: every round's measurement reads it). ONE
    // materialization covers guard + canon + m ([[graphFrames]]); m is
    // the constant total weight across levels (the Blondel invariant).
    // The adjacency is a map-only union DERIVED from the pin, never
    // materialized twice.
    val g = graphFrames(edges, "louvainPhases", Refining)
    val chain = g.chain
    val canon0 = g.canon
    val m = g.m
    val adj0 = GraphInput.adjacency(canon0)
    val deg0 = g.deg

    // DEFERRED measurement (one action for the whole trace, was one
    // head() per round): every recorded state keeps its lazy flattened-
    // label plan over PINNED frames; the union collects once at the
    // end. Round labelings are therefore PINNED, not window-cut —
    // O(states) retention for this driver-result face, reclaimed by
    // the finisher.
    var states = Vector.empty[(Long, Long, Long, DataFrame)]
    def record(phase: Int, round: Int, moved: Long, flat: DataFrame): Unit =
      states :+= ((phase.toLong, round.toLong, moved, flat))

    // current level: inter-edge frame (u, v, w), weighted self-loop-
    // inclusive degrees, adjacency — level 1 = the original graph
    var canonW = canon0.withColumn("w", lit(1L))
    var adjW = adj0.withColumn("w", lit(1L))
    var degW = deg0
    // flat labels on ORIGINAL nodes (the committed state), carrying
    // the ORIGINAL degree (r21): deg0 rides every committed/recorded
    // flat frame so neither the rounds nor the trace measurement ever
    // re-join the degree frame (guide §2.4)
    var nodeLab = chain.pin(withDeg(labels, deg0))
    var phase = 0
    var phaseMoved = -1L
    while ((phase < 2 || phaseMoved != 0L) && phase < maxPhases) {
      phase += 1
      // phase 1 starts from the input labeling; later phases start
      // each supernode in its own singleton community — a LAZY
      // derivation over the pinned committed labels (its distinct
      // dedupes through exchange reuse inside round 1's action; a cut
      // here was one more full materialization per phase). Supernode
      // labels carry the CONTRACTED degree (one degW join per PHASE,
      // not per round).
      var lab =
        if (phase == 1) nodeLab
        else nodeLab.select(col("community").as("node")).distinct()
          .select(col("node"), col("node").as("community"))
          .join(degW, Seq("node"), "left")
      def flatten(l: DataFrame): DataFrame =
        if (phase == 1) l
        else nodeLab.select(col("node"), col("community"), col("deg"))
          .join(l.select(col("node").as("community"),
            col("community").as("c2")), "community")
          .select(col("node"), col("c2").as("community"), col("deg"))
      record(phase, 0, 0L, flatten(lab))
      var moved = -1L
      var round = 0
      var total = 0L
      while (moved != 0L && round < maxRounds) {
        round += 1
        // moved rides the pin's Observation (the refineTrace shape);
        // PINNED because the deferred trace reads every round
        val obs = org.apache.spark.sql.Observation()
        val next = chain.pin(refineOnceOnW(adjW, m, lab)
          .observe(obs, coalesce(sum(col("__moved").cast("long")),
            lit(0L)).as("mv"))
          .select(col("node"), col("community"), col("deg")))
        moved = obs.get("mv").asInstanceOf[Long]
        lab = next
        total += moved
        record(phase, round, moved, flatten(lab))
      }
      require(moved == 0L,
        s"louvainPhases: phase $phase found no move fixpoint within " +
          s"$maxRounds rounds (last round still moved $moved) — raise " +
          "maxRounds; publishing a non-fixpoint phase would mislabel " +
          "the communities later rounds merge")
      // PINNED: the committed flat labels are read by every later
      // phase's flatten/record — a window cut would be evicted (and
      // its reliable-checkpoint files deleted) by the contraction cuts
      // below while still referenced. Phase 1's flatten is the IDENTITY
      // over the round pin (r21 resume): re-pinning the already-
      // materialized frame was one extra action per call for bytes the
      // round pin holds (and its files are already PINNED, so the
      // reliable policy keeps them for the finisher too).
      nodeLab = if (phase == 1) lab else chain.pin(flatten(lab))
      phaseMoved = total
      if ((phase < 2 || phaseMoved != 0L) && phase < maxPhases) {
      // contract this level's graph under the phase labeling for the
      // next phase: inter weights sum per community pair; intra weight
      // (+ member self-loops, already folded into degW) becomes the
      // supernode self-loop — only DEGREES and m see it, so degW' is
      // derived from the level's committed degrees directly:
      // deg'(c) = Σ_{v in c} deg(v) (the Blondel invariant).
      val cl = lab.select(col("node"), col("community"))
      val interW = canonW
        .join(cl.select(col("node").as("u"), col("community").as("cu")), "u")
        .join(cl.select(col("node").as("v"), col("community").as("cv")), "v")
        .where(col("cu") =!= col("cv"))
        .select(least(col("cu"), col("cv")).as("u"),
          greatest(col("cu"), col("cv")).as("v"), col("w"))
        .groupBy(col("u"), col("v")).agg(sum(col("w")).as("w"))
      // contracted degrees from the CARRIED level degrees (r21; was a
      // lab⋈degW join — the labels already carry this level's deg).
      // The null filter mirrors the old inner join exactly.
      val degNext = lab.where(col("deg").isNotNull)
        .groupBy(col("community").as("node")).agg(sum(col("deg")).as("deg"))
      // PINNED likewise: the level frames feed every round of the
      // NEXT phase (and its contraction), far past the keep-2 window;
      // the adjacency stays a map-only DERIVATION over the pinned
      // inter-edge frame (materializing it doubled the pinned bytes
      // for a shuffle-free union — the adj0 rationale)
      canonW = chain.pin(interW)
      adjW = canonW.select(col("u").as("node"), col("v").as("nbr"), col("w"))
        .unionAll(canonW.select(col("v").as("node"),
          col("u").as("nbr"), col("w")))
      degW = chain.pin(degNext)
      }
    }
    require(phaseMoved == 0L,
      s"louvainPhases: no phase fixpoint within $maxPhases phases " +
        s"(the last phase still moved $phaseMoved node(s)) — raise " +
        "maxPhases; a capped ladder would publish communities a " +
        "further contraction provably improves")
    // ONE measurement action AND one measurement PLAN for the whole
    // trace (r21, guide §2.4 — was one modularity subplan per recorded
    // state unioned): every state's flattened deg0-carrying labels are
    // tagged with their state index and measured through
    // modularityByState's single set of joins against the pinned
    // level-0 frames. Driver-side sort by (phase, round) — the
    // contract is the columns, not partition order.
    val tagged = states.zipWithIndex.map { case ((_, _, _, flat), i) =>
      flat.select(lit(i.toLong).as("__st"), col("node"), col("community"),
        col("deg"))
    }.reduce(_ unionAll _)
    val bySt = modularityByState(canon0, m, tagged).collect()
      .map(r => r.getLong(0) -> r).toMap
    // the result is DRIVER-side (the trace rows) — nothing returned
    // reads the checkpoints, so every pinned level frame and round
    // labeling is reclaimable now (the BpeTrainer finisher)
    chain.reclaimAll()
    states.zipWithIndex.flatMap { case ((p, r, mv, _), i) =>
      bySt.get(i.toLong).map(row => (p, r, mv, row.getLong(1),
        row.getLong(2), row.getLong(3), row.getLong(4), row.getLong(5)))
    }.sortBy(t => (t._1, t._2))
      .toDF("phase", "round", "moved", "communities", "m_edges",
        "modularity_num", "modularity_den", "modularity_ppm")
  }

  /** Modularity of TWO labelings over the SAME edge frame in ONE
    * shared-frame plan (r21 resume, guide §2.4): the A/B rows ran two
    * independent [[modularity]] subplans — two eager guard scans, two
    * canon distincts, two degree aggregates and two full sets of
    * measurement joins over identical edges. Here the guard + m ride
    * ONE canon pin, the degree aggregate runs once, and both labelings
    * are measured through [[modularityByState]]'s single set of
    * (__st-keyed) joins. Per-state arithmetic is unchanged — identical
    * rows out, keyed `__st` = 0 (labelsA) / 1 (labelsB).
    */
  def modularityAB(labelsA: DataFrame, labelsB: DataFrame,
                   edges: DataFrame): DataFrame = {
    val g = graphFrames(edges, "modularity", Measuring)
    val tagged = withDeg(labelsA, g.deg)
      .select(lit(0L).as("__st"), col("node"), col("community"), col("deg"))
      .unionAll(withDeg(labelsB, g.deg)
        .select(lit(1L).as("__st"), col("node"), col("community"),
          col("deg")))
    g.chain.sealIfReliable(modularityByState(g.canon, g.m, tagged))
  }

  /** One [[refineOnce]] move round PLUS the before/after modularity
    * measurement, all over ONE set of shared frames (r21 resume, guide
    * §2.4): the composed form (refineOnce + modularity(input) +
    * modularity(refined)) ran THREE guarded canon scans and three
    * degree aggregates, and the un-cut refined plan was duplicated
    * into each of the measurement's label joins. Here the shared
    * frames build once, the refined labeling is lineage-cut once (the
    * refineTrace round discipline — the measurement reads its blocks
    * instead of re-running the move round per join), and both states
    * measure through [[modularityByState]]'s single plan. Same move
    * arithmetic, same measurement rows — keyed `__st` = 0 (the input
    * labeling) / 1 (after the move round).
    */
  def refineOnceMeasured(labels: DataFrame, edges: DataFrame): DataFrame = {
    val g = graphFrames(edges, "refineOnce", Measuring)
    val labD = withDeg(labels, g.deg)
    val refined = g.chain.cut(refineOnceOnW(g.adjW, g.m, labD)
      .select(col("node"), col("community"), col("deg")))
    val tagged = labD
      .select(lit(0L).as("__st"), col("node"), col("community"), col("deg"))
      .unionAll(refined
        .select(lit(1L).as("__st"), col("node"), col("community"),
          col("deg")))
    g.chain.sealIfReliable(modularityByState(g.canon, g.m, tagged))
  }

  /** Newman–Girvan modularity of a labeling on the INTEGER LATTICE —
    * the measure-don't-assume row every heuristic operator carries,
    * for LPA: Q = Σ_c [ in_c/m − (d_c/2m)² ] over communities c, with
    * m = |edges|, in_c = intra-community edges, d_c = degree sum.
    * Multiplying by 4m² clears every denominator, so the report is
    * exact BIGINT arithmetic both engines reproduce bit-for-bit:
    * `modularity_num = Σ_c (4·m·in_c − d_c²)`, `modularity_den = 4m²`,
    * and Q in ppm via FLOOR division. Both engines' integer division
    * truncates toward zero (Spark `div`, DuckDB `//` — verified), so
    * BOTH sides carry the same negative-remainder correction — num is
    * negative on an anti-community labeling, where trunc and floor
    * disagree by one. The ppm's `num × 10⁶` step runs on
    * DECIMAL(38,0), because |num| ≤ den = 4m² can exceed
    * Long.Max/10⁶ from ~1.5M edges — a silent Long wrap there would
    * hand a consumer a garbage quality number; num/den themselves
    * stay exact BIGINTs up to ~1.5e9 edges (|num| ≤ den ≤ 2⁶³).
    *
    * Scale notes: two label-keyed joins of the edge list (the round
    * cost LPA already pays), one degree aggregate, community-sized
    * groupBys — nothing heavier than one LPA round.
    *
    * @param labels (node, community) — e.g. [[run]]'s output
    * @param edges  the SAME edge frame the labeling was computed on
    * @return one row: (communities, m_edges, modularity_num,
    *         modularity_den, modularity_ppm)
    */
  def modularity(labels: DataFrame, edges: DataFrame): DataFrame = {
    // the run()/refineOnce() guards: the self-loop predicate silently
    // DROPS NULL-endpoint edges, deflating m and skewing num/den/ppm on
    // a degraded feed — and this row is a MEASUREMENT consumers
    // threshold on, the one place a silent quality number is worst.
    // Same empty-frame refusal: Q of nothing is not 0, it is "no edges
    // landed".
    val g = graphFrames(edges, "modularity", Measuring)
    g.chain.sealIfReliable(modularityOnD(g.canon, g.m, withDeg(labels, g.deg)))
  }

  /** [[modularity]]'s core against a deg-CARRYING label frame (r21): the
    * loops' states already carry each node's degree, so the
    * measurement pays no per-state degree join. The null filter
    * mirrors [[withDeg]]'s left join back to the old inner-join rows.
    */
  private def modularityOnD(canon: DataFrame, m: DataFrame,
                            labD: DataFrame): DataFrame =
    modularityByState(canon, m,
      labD.select(lit(0L).as("__st"), col("node"), col("community"),
        col("deg"))).drop("__st")

  /** Modularity of MANY labelings in ONE plan (r21, guide §2.4): the
    * deferred trace measurement ran one full modularity subplan per
    * recorded round — N× the joins, N× the exchanges and (under AQE) a
    * swarm of stage-jobs for what is one logical measurement. Tagging
    * each state's deg-carrying labels with `__st` and unioning FIRST
    * runs the identical per-state arithmetic through ONE set of
    * (__st-keyed) joins and aggregates: the same bytes joined, N×
    * fewer exchanges and barriers. One row per __st; a state whose
    * labeling is empty yields no row — exactly the per-state behavior.
    */
  private def modularityByState(canon: DataFrame, m: DataFrame,
                                tagged: DataFrame): DataFrame = {
    val lab = tagged.select(col("__st"), col("node"), col("community"),
      col("deg"))
    val intra = canon
      .join(lab.select(col("__st"), col("node").as("u"),
        col("community").as("cu")), "u")
      .join(lab.select(col("__st"), col("node").as("v"),
        col("community").as("cv")), Seq("v", "__st"))
      .where(col("cu") === col("cv"))
      .groupBy(col("__st"), col("cu").as("community"))
      .agg(count(lit(1)).as("in_e"))
    val dsum = lab.where(col("deg").isNotNull)
      .groupBy(col("__st"), col("community")).agg(sum(col("deg")).as("dc"))
    dsum.join(intra, Seq("__st", "community"), "left")
      .crossJoin(broadcast(m)) // 1-row aggregate frame
      .select(col("__st"),
        (lit(4L) * col("m") * coalesce(col("in_e"), lit(0L))
          - col("dc") * col("dc")).as("num"), col("m"))
      .groupBy(col("__st"), col("m"))
      .agg(count(lit(1)).as("communities"), sum(col("num")).as("num"))
      .select(col("__st"), col("communities"),
        col("m").as("m_edges"),
        col("num").as("modularity_num"),
        (lit(4L) * col("m") * col("m")).as("modularity_den"))
      // FLOOR division on the lattice (the epochHourCol idiom): the
      // correction term makes the truncating integer division
      // floor-exact for negative numerators — and the oracle carries
      // the identical correction, since DuckDB's // truncates too.
      // The ×10⁶ runs wide (DECIMAL(38,0)) per the overflow note above.
      .selectExpr("__st", "communities", "m_edges", "modularity_num",
        "modularity_den",
        "CAST((CAST(modularity_num AS DECIMAL(38,0)) * 1000000) " +
          "div modularity_den AS BIGINT) - " +
          "(case when (CAST(modularity_num AS DECIMAL(38,0)) * 1000000) " +
          "% modularity_den < 0 " +
          "then 1 else 0 end) AS modularity_ppm")
  }
}
