package graft.operators


import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}

/** Fixed-k core decomposition (Seidman 1983 "Network structure and
  * minimum degree") by synchronous peeling: repeatedly delete every
  * node whose degree among SURVIVING nodes is < k until a fixpoint;
  * what remains is the k-core — the maximal subgraph of minimum
  * degree k. Crawl curation uses it as the robust "densely embedded"
  * cut that single-shot degree thresholds miss: a page kept by
  * `deg >= k` on the full graph can owe all its links to peeled spam
  * leaves, while k-core membership certifies k links into the
  * surviving subgraph itself (pendant chains unravel one node per
  * round — exactly the cascade a one-pass filter cannot see).
  *
  * Scale notes (100 TB): the survivor frame carries its CURRENT
  * in-core degree and is maintained INCREMENTALLY — each round splits
  * the frame into keepers/removed by plain filters over the previous
  * round's materialization, counts each keeper's removed neighbors
  * (the r20 delta peel), and subtracts. While the alive set is at most
  * [[DeltaMaxAlive]] rows, the removed wave and its decrement counts
  * BROADCAST, so a round is two map-only passes over the pinned edge
  * list plus one wave-sized aggregate —
  * the optimization guide's §2.3 "shuffle keys and metadata instead of
  * payloads": no |E|-sized exchange per round at all, where the r19
  * shape paid two edge-list semi-join shuffles plus a full endpoint
  * union aggregate EVERY round. Above the threshold the round falls
  * back to that full recompute (degrees among keepers from the edge
  * list) — the wave may be too big to broadcast, and a handful of
  * early big-wave rounds amortize; the long cascade tail (many rounds,
  * tiny waves — the expensive regime) always runs the delta branch.
  * Both branches produce the same frame (KCoreSpec proves result
  * equality with the bound passed as 0). Round count is the
  * longest peel cascade (the graph's degeneracy ordering depth), not
  * |V|; production graphs converge in tens of rounds. The survivor
  * frame is localCheckpointed per round to keep the loop's lineage
  * flat (reliable checkpoint on a real cluster). For the FULL
  * core-number decomposition, [[coreNumbers]] amortizes the same
  * delta rounds over every k. A graph whose pin fits
  * `spark.sql.autoBroadcastJoinThreshold` ([[GraphInput]]'s size rule)
  * peels on the driver over the collected neighbor lists, counting
  * rounds (ladder jumps included) exactly as the distributed loop does,
  * so the same `maxRounds` refuses with the same message; larger
  * graphs keep the distributed loop.
  *
  * Determinism: the peel is a monotone set fixpoint — no ordering, no
  * floats — so any engine running the same rounds produces the same
  * rows bit-for-bit; degrees are exact BIGINTs.
  */
object KCore {

  /** Alive-set ceiling for the broadcast delta round — while the
    * current survivor count is at most this many rows, a peel round's
    * removed wave and its decrement counts (both ⊆ the alive set, so
    * both bounded by it) ship as broadcasts and the round never
    * exchanges the edge list; above it the round falls back to the
    * full degree recompute. 1M rows (≈ tens of MB framed) is a
    * conservative executor-broadcast budget.
    */
  private val DeltaMaxAlive = 1000000L

  /** Degrees among `alive`, recomputed from the edge list — the
    * fallback branch for waves too big to broadcast. Nodes whose every
    * neighbor is gone VANISH from this output (no rows to count);
    * [[deltaRound]] re-attaches them at degree 0 so both branches
    * produce the identical zero-carry frame (KCoreSpec pins the
    * equality — the ladder assigns a vanished node's core from its
    * zero row, so dropping it would drop the assignment).
    */
  private def degAmong(canon: DataFrame, alive: DataFrame): DataFrame = {
    val ae = canon
      .join(alive.select(col("node").as("u")), Seq("u"), "left_semi")
      .join(alive.select(col("node").as("v")), Seq("v"), "left_semi")
    ae.select(col("u").as("node"))
      .unionAll(ae.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
  }

  /** One delta peel round over a frame of (node, deg-among-frame):
    * keepers (rows passing `keep`) minus each keeper's removed-
    * neighbor count. While the alive set fits the broadcast budget the
    * round is two map-only passes over the pinned edge list plus one
    * wave-sized aggregate — no |E| exchange (guide §2.3/§2.4: decide
    * with the metadata, never move the edges); the same broadcast
    * subplan serves both endpoint joins, so the build runs once.
    */
  private def deltaRound(canon: DataFrame, frame: DataFrame,
                         keep: org.apache.spark.sql.Column,
                         aliveN: Long, deltaMaxAlive: Long): DataFrame = {
    val keepers = frame.where(keep)
    if (aliveN <= deltaMaxAlive) {
      val removed = broadcast(frame.where(!keep).select(col("node").as("nbr")))
      // ONE join below the direction union (not one per direction):
      // the adjacency is a lazy map-only derivation over the pinned
      // canon, so the round builds a single removed broadcast and the
      // matched-edge aggregate is the only exchange
      val dec = GraphInput.adjacency(canon).join(removed, "nbr")
        .groupBy(col("node")).agg(count(lit(1)).as("dec"))
      keepers.join(broadcast(dec), Seq("node"), "left")
        .select(col("node"),
          (col("deg") - coalesce(col("dec"), lit(0L))).as("deg"))
    } else {
      // zero-carry parity with the delta branch: a keeper whose every
      // neighbor left this round must STAY in the frame at degree 0 —
      // the ladder assigns its core from that row next round, and
      // letting it vanish from the recompute would skip the
      // assignment entirely (caught by KCoreSpec's branch-equality
      // test on the pseudo-random graph)
      keepers.select(col("node"))
        .join(degAmong(canon, keepers), Seq("node"), "left")
        .select(col("node"), coalesce(col("deg"), lit(0L)).as("deg"))
    }
  }

  /** Nodes of the k-core of the simple graph induced by `edges`, with
    * their full-graph and in-core degrees.
    *
    * Input tolerance matches [[Triangles.localCounts]]: direction,
    * multi-edges and self-loops are canonicalized away; NULL endpoints
    * fail loudly (a null edge would silently deflate its partner's
    * degree and over-peel).
    *
    * @param edges     columns `src`, `dst` (any orderable node type)
    * @param k         minimum surviving degree (>= 1)
    * @param maxRounds loud cap on peel rounds: the fixpoint MUST be
    *                  reached within this many rounds or the call
    *                  fails — a silent cap would return a superset of
    *                  the k-core and pass spam the gate exists to stop
    * @return (node, deg_full, deg_core) — one row per k-core member
    */
  def peel(spark: SparkSession, edges: DataFrame, k: Int,
           maxRounds: Int): DataFrame =
    peel(spark, edges, k, maxRounds, DeltaMaxAlive)

  /** [[peel]] with the broadcast-round bound as a parameter (KCoreSpec
    * passes 0 to force the full-recompute branch).
    */
  private[graft] def peel(spark: SparkSession, edges: DataFrame, k: Int,
                          maxRounds: Int, deltaMaxAlive: Long): DataFrame = {
    require(k >= 1, s"KCore: k must be >= 1, got $k")
    require(maxRounds >= 1, s"KCore: maxRounds must be >= 1, got $maxRounds")
    val chain = graft.plans.Checkpoints.chain() // reliable-policy file GC
    val pinned = GraphInput.undirected(chain, edges, "KCore",
      "land edges before peeling",
      "a null edge silently deflates its partner's degree and over-peels")
    pinned.finish(peelLocal(spark, pinned, k, maxRounds))(
      peelPinned(chain, pinned.edges, k, maxRounds, deltaMaxAlive))
  }

  /** The distributed peel over the pinned canonical edges. */
  private def peelPinned(chain: graft.plans.Checkpoints.Chain,
                         canon: DataFrame, k: Int, maxRounds: Int,
                         deltaMaxAlive: Long): DataFrame = {
    // full-graph degrees need no aliveness filter — one direct
    // aggregate over the canonical edge endpoints. PINNED: the final
    // join reads it after the last peel round. The initial node count
    // AND the first wave's size ride the pin's materialization (one
    // action, not two).
    val obs0 = org.apache.spark.sql.Observation()
    val degFull = chain.pin(GraphInput.degrees(canon)
      .observe(obs0, count(lit(1)).as("n"),
        count(when(col("deg") < k, 1)).as("n_below")))
    // delta peel (see the scale notes): the frame always holds
    // (node, deg among the frame's own node set); a round filters it
    // into keepers/removed and SUBTRACTS each keeper's removed-
    // neighbor count instead of recomputing degrees from the edge
    // list. The next wave's size rides each cut's Observation, so
    // convergence (nothing below k) is known without an extra action
    // — and without the old confirming round.
    var survivors = degFull
    var aliveN = obs0.get("n").asInstanceOf[Long]
    var belowN = obs0.get("n_below").asInstanceOf[Long]
    var round = 0
    while (aliveN != 0L && belowN != 0L) {
      round += 1
      require(round <= maxRounds, noFixpoint(maxRounds, aliveN))
      // one job per round: the survivor count rides the checkpoint
      // materialization as an Observation instead of a second action
      val obs = org.apache.spark.sql.Observation()
      val next = chain.cut(
        deltaRound(canon, survivors, col("deg") >= k, aliveN,
          deltaMaxAlive)
          .observe(obs, count(lit(1)).as("n"),
            count(when(col("deg") < k, 1)).as("n_below")))
      aliveN = obs.get("n").asInstanceOf[Long]
      belowN = obs.get("n_below").asInstanceOf[Long]
      survivors = next
    }
    // seal: the final cut this loop always had, now also reclaiming
    // every round's checkpoint files under the reliable policy
    chain.seal(
      survivors.select(col("node"), col("deg").as("deg_core"))
        .join(degFull.select(col("node"), col("deg").as("deg_full")),
          "node")
        .select(col("node"), col("deg_full"), col("deg_core")))
  }

  /** FULL core decomposition — every node's maximal k (the production
    * form [[peel]]'s docstring names): the ascending-k ladder over the
    * same synchronous peel. One pass maintains the survivor set and
    * the current k; each round computes surviving degrees and either
    * REMOVES the below-k nodes (they leave with core number k−1 —
    * including nodes whose last neighbor just fell, which vanish from
    * the degree frame entirely) or, when nothing is below k, JUMPS k
    * straight to (min surviving degree) + 1 — a survivor set with min
    * degree d is the k-core for every k ≤ d, so the intermediate
    * thresholds are provably empty rungs and climbing them one at a
    * time would burn one full degree round each (on a clique that is
    * the whole ladder). Total rounds = Σ per-rung cascade depths +
    * #distinct support levels, never the degeneracy itself — the same
    * unit cost as [[peel]] (two semi-joins + one keyed count per
    * round; the min-degree rides the SAME observation as the count),
    * amortized over EVERY k instead of one: curation pipelines that
    * threshold different sources at different k read the one
    * persisted (node, core) table instead of re-running the peel per
    * threshold.
    *
    * Determinism and guards match [[peel]] (monotone set fixpoint, no
    * floats, loud NULL/empty refusals); `maxRounds` caps the TOTAL
    * ladder rounds — a capped run would MISLABEL every unfinished
    * node's core, so it refuses loudly. Isolated nodes never appear
    * (no edges → no rows), consistent with [[peel]].
    *
    * @return (node, core) — one row per node with ≥ 1 edge; core >= 1
    */
  def coreNumbers(spark: SparkSession, edges: DataFrame,
                  maxRounds: Int): DataFrame =
    coreNumbers(spark, edges, maxRounds, DeltaMaxAlive)

  /** [[coreNumbers]] with the broadcast-round bound as a parameter. */
  private[graft] def coreNumbers(spark: SparkSession, edges: DataFrame,
                                 maxRounds: Int,
                                 deltaMaxAlive: Long): DataFrame = {
    require(maxRounds >= 1,
      s"KCore: maxRounds must be >= 1, got $maxRounds")
    val chain = graft.plans.Checkpoints.chain() // reliable-policy file GC
    val pinned = GraphInput.undirected(chain, edges, "KCore",
      "land edges before decomposing",
      "a null edge silently deflates its partner's degree and " +
        "mislabels core numbers")
    pinned.finish(coreNumbersLocal(spark, pinned, maxRounds))(
      coreNumbersPinned(chain, pinned.edges, maxRounds, deltaMaxAlive))
  }

  /** The distributed core ladder over the pinned canonical edges. */
  private def coreNumbersPinned(chain: graft.plans.Checkpoints.Chain,
                                canon: DataFrame, maxRounds: Int,
                                deltaMaxAlive: Long): DataFrame = {
    // the delta-peel frame (node, deg-among-frame - see [[peel]]'s
    // scale notes): the ladder starts from the full degree frame
    // directly (the old shape cut a node-only frame and paid a full
    // degree recompute in round 1), and every round's node count AND
    // min degree ride the cut's Observation.
    val obs0 = org.apache.spark.sql.Observation()
    var frame = chain.cut(GraphInput.degrees(canon)
      .observe(obs0, count(lit(1)).as("n"), min(col("deg")).as("mind")))
    def obsLong(obs: org.apache.spark.sql.Observation,
                key: String): Long = obs.get(key) match {
      case null => 0L // min over an empty final frame observes NULL
      case v => v.asInstanceOf[Long]
    }
    var nSurv = obsLong(obs0, "n")
    var mind = obsLong(obs0, "mind")
    var k = 1
    var round = 0
    val assigned = Vector.newBuilder[DataFrame]
    while (nSurv > 0L) {
      round += 1
      require(round <= maxRounds, unfinished(maxRounds, nSurv, k))
      val obs = org.apache.spark.sql.Observation()
      if (mind >= k) {
        // nothing below k: the survivor set IS the k-core - and the
        // k'-core for every k' up to its min degree d, so the
        // intermediate thresholds are provably empty rungs and
        // climbing them one at a time would burn one full round each
        // (on a clique that is the whole ladder). Jump to d+1 AND
        // execute that rung's first peel sub-round straight off the
        // ALREADY-MATERIALIZED degree frame: the deg==d support
        // level leaves with core d.
        // a plain filter over the ALREADY-CUT frame: lazy locally
        // (zero-recompute read of the round's checkpoint blocks —
        // the eager pin was one extra action per rung), pinned under
        // the reliable policy (the window deletes the frame's files
        // two cuts later while the final union still reads the view)
        assigned += chain.pinIfReliable(frame.where(col("deg") === mind)
          .select(col("node"), lit(mind).as("core")))
        frame = chain.cut(
          deltaRound(canon, frame, col("deg") > mind, nSurv,
            deltaMaxAlive)
            .observe(obs, count(lit(1)).as("n"),
              min(col("deg")).as("mind")))
        k = mind.toInt + 1
      } else {
        // peel: everyone below k - including nodes the delta carried
        // to zero when their last neighbor fell - leaves with core
        // number k-1; a plain filter over the cached frame replaces
        // the old anti-join (lazy locally / pinned under the reliable
        // policy — see the jump branch)
        assigned += chain.pinIfReliable(frame.where(col("deg") < k)
          .select(col("node"), lit((k - 1).toLong).as("core")))
        frame = chain.cut(
          deltaRound(canon, frame, col("deg") >= k, nSurv,
            deltaMaxAlive)
            .observe(obs, count(lit(1)).as("n"),
              min(col("deg")).as("mind")))
      }
      nSurv = obsLong(obs, "n")
      mind = obsLong(obs, "mind")
    }
    val frames = assigned.result()
    // self-loop-only input: the guards pass (edges exist) but the
    // canonical simple graph is empty — the graceful empty frame,
    // matching peel's behavior on the identical input
    if (frames.isEmpty) {
      // the initial survivors cut is tracked but the empty result
      // reads nothing — reclaim it (the finisher contract holds on
      // every exit path)
      chain.reclaimAll()
      canon.select(col("u").as("node"), lit(0L).as("core")).limit(0)
    }
    // seal: the final cut this ladder always had, now also reclaiming
    // every rung's pinned + windowed files under the reliable policy
    else chain.seal(frames.reduce(_ unionAll _))
  }

  private def noFixpoint(maxRounds: Int, alive: Long): String =
    s"KCore: no fixpoint after $maxRounds peel rounds " +
      s"($alive nodes still alive) — a capped result would be a " +
      "SUPERSET of the k-core; raise maxRounds for this cascade"

  private def unfinished(maxRounds: Int, unassigned: Long, k: Int): String =
    s"KCore: core decomposition not finished after $maxRounds " +
      s"rounds ($unassigned nodes unassigned at k=$k) - a capped run " +
      "would mislabel every unassigned node's core; raise " +
      "maxRounds for this cascade"

  /** The node column of both faces' results (type and nullability of
    * the distributed degree frame's).
    */
  private def nodeField(canon: DataFrame): StructField =
    GraphInput.adjacency(canon).schema("node")

  /** One synchronous peel round on the driver over (node -> degree
    * among the frame): keepers minus their removed-neighbor counts —
    * [[deltaRound]]'s arithmetic.
    */
  private def localRound(nbrs: Map[Any, Array[Any]], frame: Map[Any, Long],
                         keep: Long => Boolean): Map[Any, Long] = {
    val dec = scala.collection.mutable.HashMap.empty[Any, Long]
    frame.foreach { case (v, d) =>
      if (!keep(d)) nbrs(v).foreach(n => dec(n) = dec.getOrElse(n, 0L) + 1L)
    }
    frame.collect { case (v, d) if keep(d) => v -> (d - dec.getOrElse(v, 0L)) }
  }

  /** [[peel]] on the driver: the distributed loop's rounds, guard and
    * message over the collected neighbor lists.
    */
  private def peelLocal(spark: SparkSession, canon: GraphInput.Pinned,
                        k: Int, maxRounds: Int): DataFrame = {
    val nbrs = GraphInput.localNeighbors(canon)
    val degFull = nbrs.view.mapValues(_.length.toLong).toMap
    var survivors = degFull
    var round = 0
    while (survivors.nonEmpty && survivors.values.exists(_ < k)) {
      round += 1
      require(round <= maxRounds, noFixpoint(maxRounds, survivors.size))
      survivors = localRound(nbrs, survivors, _ >= k)
    }
    GraphInput.localResult(spark, Seq(nodeField(canon.edges)),
      Seq(StructField("deg_full", LongType, nullable = false),
        StructField("deg_core", LongType, nullable = false)),
      survivors.map { case (v, d) => Seq(v, degFull(v), d) })
  }

  /** [[coreNumbers]] on the driver: the same ladder — jump rungs
    * included — counted and refused as the distributed loop does.
    */
  private def coreNumbersLocal(spark: SparkSession, canon: GraphInput.Pinned,
                               maxRounds: Int): DataFrame = {
    val nbrs = GraphInput.localNeighbors(canon)
    var frame = nbrs.view.mapValues(_.length.toLong).toMap
    val assigned = Vector.newBuilder[Seq[Any]]
    var k = 1L
    var round = 0
    while (frame.nonEmpty) {
      round += 1
      require(round <= maxRounds, unfinished(maxRounds, frame.size, k.toInt))
      val mind = frame.values.min
      // a jump rung (nothing below k) assigns the min-degree level and
      // climbs to mind + 1; a peel rung assigns everything below k
      val (leaves, core) = if (mind >= k) (mind, mind) else (k - 1, k - 1)
      assigned ++= frame.collect {
        case (v, d) if d <= leaves => Seq(v, core)
      }
      frame = localRound(nbrs, frame, _ > leaves)
      if (mind >= k) k = mind + 1
    }
    GraphInput.localResult(spark, Seq(nodeField(canon.edges)),
      Seq(StructField("core", LongType, nullable = false)), assigned.result())
  }
}
