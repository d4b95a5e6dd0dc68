package graft.operators

import graft.plans.Checkpoints
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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
  *  - SIZE RULE ([[Pinned.onDriver]]): a graph whose pinned frame has
  *    at most [[DriverMaxEdges]] rows AND fits
  *    `spark.sql.autoBroadcastJoinThreshold` (rows × schema.defaultSize;
  *    a threshold ≤ 0 never qualifies, Spark's meaning of -1) is
  *    FINISHED ON THE DRIVER. The row count is observed on the pin, so
  *    the test costs no job. The operator collects the pin once, runs
  *    its fixed-round or peel loop in plain Scala over the same integer
  *    arithmetic, and returns the rows as a local frame with the
  *    distributed path's schema. A round of a distributed loop is a few
  *    Spark jobs of fixed cost whatever the graph's size, so a
  *    kilobyte graph paid tens of jobs for microseconds of arithmetic.
  *    The row cap is where the two paths cross (measured with
  *    `graft.GraphPathTiming`, see [[DriverMaxEdges]]): the threshold
  *    alone, which deployments raise to 100 MB–1 GB for their joins,
  *    would hand the single-threaded driver graphs of millions of
  *    edges. The rule is scale-neutral: graphs above either bound keep
  *    the distributed loops unchanged. The driver kernels key and order
  *    nodes by their Catalyst values (UTF8String byte order for
  *    strings, as Spark sorts), so tie-breaks and orientations match.
  *
  * [[PageRank]] keeps its own input path (multi-edges are WEIGHT there,
  * so nothing is canonicalized away) but reads the same size rule;
  * [[ConnectedComponents]] keeps its own path (an edgeless graph is
  * legal input there).
  */
private[graft] object GraphInput {

  /** The input frame pinned on the caller's `chain`, its row count `m`
    * (for the undirected form, the number of simple edges) and its node
    * columns.
    */
  final case class Pinned(chain: Checkpoints.Chain, edges: DataFrame,
                          m: Long, nodeCols: Seq[String]) {
    /** The size rule (see the header): true when the operator should
      * collect the pin and finish on the driver. The node columns must
      * also share one type whose Catalyst values key and order as
      * Spark's hash and sort do; any other graph stays distributed.
      */
    def onDriver: Boolean = {
      val threshold = broadcastThresholdBytes(edges.sparkSession)
      val nodeTypes = nodeCols.map(edges.schema(_).dataType).distinct
      threshold > 0 && m <= driverMaxEdges.value &&
        m <= threshold / math.max(1, edges.schema.defaultSize) &&
        nodeTypes.size == 1 && keyable(nodeTypes.head)
    }

    /** The size rule's fork: `local` (a driver kernel, which collects
      * what it reads before it returns; the chain is then reclaimed,
      * as the result holds rows, not the pin) or `distributed` (which
      * finishes the chain itself).
      */
    def finish(local: => DataFrame)(distributed: => DataFrame): DataFrame =
      if (onDriver) {
        val out = local
        chain.reclaimAll()
        out
      } else distributed

    /** The pin's rows, node columns as [[keyOrder]] keys. */
    def collectKeyed(): Array[Array[Any]] =
      GraphInput.collectKeyed(edges, nodeCols: _*)
  }

  /** The size rule's row cap: 2^18 edges. `graft.GraphPathTiming` on a
    * 4-core box (local[4], 8 GB driver heap; random graphs with ~35-byte
    * string ids, m / 7 nodes, skewed destinations) timed the six entry
    * points on both paths, median of 3 warm calls:
    *
    *   m      path         hits  lpa   kcore core# tri   pr_dang
    *   100k   driver       1.09  1.37  0.86  0.93  1.22  0.86
    *          distributed  3.06  2.14  1.04  11.9  4.76  1.91
    *   262k   driver       3.32  4.05  1.58  2.63  2.49  2.40
    *          distributed  5.07  4.71  1.63  18.3  8.73  2.54
    *   1M     driver       11.6  15.3  4.41  10.5  11.1  10.9
    *          distributed  9.37  21.6  3.16  29.1  19.9  6.43
    *
    * Up to 262k the driver is never slower; there KCore.peel and
    * PageRank tie with the four-core loops, and at 1M the one-thread
    * driver loses on HITS, KCore.peel and PageRank. At 262k the heap's
    * high-water mark (garbage included) was 1.7–2.9 GB on the driver
    * path, against 2.3–5.2 GB distributed. 2^18 is also what the
    * default 10 MB threshold admits of two string columns, so only a
    * raised threshold meets the cap.
    */
  private[graft] val DriverMaxEdges = 1L << 18

  /** The cap in force: [[DriverMaxEdges]], lifted only by the timing
    * tool that places it, for the calls it times.
    */
  private[graft] val driverMaxEdges = new scala.util.DynamicVariable(DriverMaxEdges)

  /** The session's `spark.sql.autoBroadcastJoinThreshold` in bytes
    * (suffixed values like "10MB" accepted; -1 means disabled).
    */
  private[graft] def broadcastThresholdBytes(s: SparkSession): Long = {
    val raw = s.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try JavaUtils.byteStringAsBytes(raw)
    catch { case _: NumberFormatException => raw.trim.toLong }
  }

  /** Node types whose Catalyst values have value equality and whose
    * natural order is Spark's sort order.
    */
  private def keyable(t: DataType): Boolean = t match {
    case StringType | ByteType | ShortType | IntegerType | LongType |
         BooleanType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** Spark's order over node keys (UTF8String compares bytes). */
  val keyOrder: Ordering[Any] =
    (a: Any, b: Any) => a.asInstanceOf[Comparable[Any]].compareTo(b)

  /** A driver kernel's result: `rows` (node keys first, then plain
    * values) as a local frame under the schema `keys ++ rest`. The key
    * fields are read off lazy plans over the pin, so their types and
    * nullability are the distributed path's. One partition, as AQE
    * leaves the distributed path's small result: a local frame would
    * otherwise split into `defaultParallelism` partitions, and a writer
    * into that many files.
    */
  def localResult(spark: SparkSession, keys: Seq[StructField],
                  rest: Seq[StructField],
                  rows: Iterable[Seq[Any]]): DataFrame = {
    val value = keys.map(f =>
      CatalystTypeConverters.createToScalaConverter(f.dataType))
    val out = rows.map(r => Row.fromSeq(r.zipWithIndex.map {
      case (x, i) => if (i < keys.size) value(i)(x) else x
    }))
    spark.createDataFrame(java.util.Arrays.asList(out.toSeq: _*),
      StructType(keys ++ rest)).coalesce(1)
  }

  /** The undirected simple-edge frame (u, v) with u < v: direction,
    * multi-edges and self-loops are normalization noise in link feeds
    * and are canonicalized away.
    */
  def undirected(chain: Checkpoints.Chain, edges: DataFrame, who: String,
                 emptyAdvice: String, nullConsequence: String): Pinned =
    pinGuarded(chain, edges, who, emptyAdvice, nullConsequence, "u", "v")(
      _.where(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
        .distinct())

  /** The directed distinct edge frame (src, dst). */
  def directed(chain: Checkpoints.Chain, edges: DataFrame, who: String,
               emptyAdvice: String, nullConsequence: String): Pinned =
    pinGuarded(chain, edges, who, emptyAdvice, nullConsequence,
      "src", "dst")(_.distinct())

  private def pinGuarded(chain: Checkpoints.Chain, edges: DataFrame,
                         who: String, emptyAdvice: String,
                         nullConsequence: String, nodeCols: String*)
                        (shape: DataFrame => DataFrame): Pinned = {
    val raw = edges.select(col("src"), col("dst"))
    val counts = Seq(count(lit(1)).as("n_all"),
      count(when(col("src").isNotNull && col("dst").isNotNull, 1))
        .as("n_ok"))
    val guard = Observation()
    val pinned = pinCounted(chain,
      shape(raw.observe(guard, counts.head, counts.tail: _*)), nodeCols: _*)
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
    pinned
  }

  /** Pin `frame` on `chain` with its row count riding the pin's
    * materialization as an Observation (an empty frame whose stage AQE
    * elided reports nothing: 0 rows).
    */
  def pinCounted(chain: Checkpoints.Chain, frame: DataFrame,
                 nodeCols: String*): Pinned = {
    val size = Observation()
    val pinned = chain.pin(frame.observe(size, count(lit(1)).as("m")))
    Pinned(chain, pinned, size.get.getOrElse("m", 0L).asInstanceOf[Long],
      nodeCols)
  }

  /** `frame`'s rows for a driver kernel, the `nodeCols` as their
    * Catalyst values (see [[keyOrder]]), other columns as collected.
    */
  def collectKeyed(frame: DataFrame, nodeCols: String*): Array[Array[Any]] = {
    val key = CatalystTypeConverters.createToCatalystConverter(
      frame.schema(nodeCols.head).dataType)
    val at = frame.schema.fieldNames.map(nodeCols.contains(_))
    frame.collect().map(r => Array.tabulate[Any](r.length)(i =>
      if (at(i)) key(r.get(i)) else r.get(i)))
  }

  /** The undirected pin on the driver: each node's neighbor keys. */
  def localNeighbors(canon: Pinned): Map[Any, Array[Any]] = {
    val nbrs = scala.collection.mutable.HashMap
      .empty[Any, scala.collection.mutable.ArrayBuffer[Any]]
    canon.collectKeyed().foreach { e =>
      nbrs.getOrElseUpdate(e(0), scala.collection.mutable.ArrayBuffer()) += e(1)
      nbrs.getOrElseUpdate(e(1), scala.collection.mutable.ArrayBuffer()) += e(0)
    }
    nbrs.view.mapValues(_.toArray).toMap
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
