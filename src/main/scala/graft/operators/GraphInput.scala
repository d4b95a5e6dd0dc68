package graft.operators

import graft.plans.Checkpoints
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** The ONE input contract of the graph operators that read a (src, dst)
  * edge feed as a simple graph — [[KCore]], [[Triangles]], [[Hits]] and
  * every [[LabelPropagation]] entry point:
  *
  *  - GUARD: an empty feed, or an edge with a NULL endpoint, refuses
  *    loudly with the operator's name and the consequence it would
  *    suffer (a NULL endpoint silently drops out of every join and
  *    count downstream). The two counts ride the raw feed as an
  *    Observation beneath the input's first materialization and are
  *    checked right after it — one scan, not an extra guard action —
  *    so the refusal still fires before anything is returned.
  *  - INPUT FRAME: the shaped edge frame (undirected canonical pairs,
  *    or directed distinct pairs for HITS) is materialized ONCE as a
  *    PIN on the caller's [[Checkpoints.Chain]], never `.persist()`ed:
  *    the CacheManager keys entries by plan, so operators running
  *    concurrently over the same feed (the overlapped graph refresh)
  *    would share one entry and the first `unpersist()` would drop it
  *    under the others. A pin is a cut of the call's own RDD. The
  *    caller's finisher reclaims its files under the reliable policy.
  *  - SHARED FRAMES: the adjacency (both directions) and degree frames,
  *    lazy derivations over the pin that each caller cuts or pins as
  *    its loop needs.
  *
  * [[PageRank]] keeps its own input path (multi-edges are WEIGHT there,
  * so nothing is canonicalized away) and so does [[ConnectedComponents]]
  * (an edgeless graph is legal input there).
  */
private[graft] object GraphInput {

  /** The pinned input frame and its row count `m` (for the undirected
    * form, the number of simple edges).
    */
  final case class Pinned(edges: DataFrame, m: Long)

  /** The undirected simple-edge frame (u, v) with u < v: direction,
    * multi-edges and self-loops are normalization noise in link feeds
    * and are canonicalized away.
    */
  def undirected(chain: Checkpoints.Chain, edges: DataFrame, who: String,
                 emptyAdvice: String, nullConsequence: String): Pinned =
    pinGuarded(chain, edges, who, emptyAdvice, nullConsequence)(
      _.where(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
        .distinct())

  /** The directed distinct edge frame (src, dst). */
  def directed(chain: Checkpoints.Chain, edges: DataFrame, who: String,
               emptyAdvice: String, nullConsequence: String): Pinned =
    pinGuarded(chain, edges, who, emptyAdvice, nullConsequence)(_.distinct())

  private def pinGuarded(chain: Checkpoints.Chain, edges: DataFrame,
                         who: String, emptyAdvice: String,
                         nullConsequence: String)
                        (shape: DataFrame => DataFrame): Pinned = {
    val raw = edges.select(col("src"), col("dst"))
    val counts = Seq(count(lit(1)).as("n_all"),
      count(when(col("src").isNotNull && col("dst").isNotNull, 1))
        .as("n_ok"))
    val guard = Observation()
    val size = Observation()
    val pinned = chain.pin(
      shape(raw.observe(guard, counts.head, counts.tail: _*))
        .observe(size, count(lit(1)).as("m")))
    // AQE replaces a stage that comes back empty (a feed of self-loops
    // or NULL edges only) by an empty relation, and the observation
    // beneath it never reports; only then the counts cost a pass
    val g = guard.get.view.mapValues(_.asInstanceOf[Long]).toMap
    val (nAll, nOk) =
      if (g.contains("n_all")) (g("n_all"), g("n_ok"))
      else {
        val r = raw.agg(counts.head, counts.tail: _*).head()
        (r.getLong(0), r.getLong(1))
      }
    require(nAll > 0, s"$who: empty edge frame — $emptyAdvice")
    require(nOk == nAll,
      s"$who: ${nAll - nOk} edges carry a NULL endpoint — " +
        s"$nullConsequence; repair the edge feed")
    Pinned(pinned, size.get("m").asInstanceOf[Long])
  }

  /** (node, nbr) in both directions — a map-only union over the
    * canonical frame (materializing it would double the pinned bytes
    * for a shuffle-free derivation).
    */
  def adjacency(canon: DataFrame): DataFrame =
    canon.select(col("u").as("node"), col("v").as("nbr"))
      .unionAll(canon.select(col("v").as("node"), col("u").as("nbr")))

  /** (node, deg) — every node with at least one simple edge. */
  def degrees(canon: DataFrame): DataFrame =
    adjacency(canon).groupBy(col("node")).agg(count(lit(1)).as("deg"))
}
