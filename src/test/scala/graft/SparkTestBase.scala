package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.Suite

/** Shared local session for all suites: the mains' [[Session]] at 4
  * cores (getOrCreate → one JVM-wide session, so suites don't pay
  * repeated startup).
  */
trait SparkTestBase { self: Suite =>
  lazy val spark: SparkSession = Session(4)

  /** Runs `body` twice: under the session as configured, where a graph
    * that fits `spark.sql.autoBroadcastJoinThreshold` finishes on the
    * driver, and with the threshold at -1, which forces the graph
    * operators' distributed loops. The threshold is restored after.
    * `body` gets the path's name for its assertion messages.
    */
  def forEachGraphPath(body: String => Unit): Unit = {
    body("driver")
    onDistributedGraphPath(body("distributed"))
  }

  /** `body` with `spark.sql.autoBroadcastJoinThreshold` at -1 (the
    * graph operators' distributed loops), the threshold restored after.
    */
  def onDistributedGraphPath[T](body: => T): T =
    withBroadcastThreshold("-1")(body)

  /** `body` with `spark.sql.autoBroadcastJoinThreshold` at `value`, the
    * threshold restored after.
    */
  def withBroadcastThreshold[T](value: String)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** `build` on both graph paths ([[forEachGraphPath]]): the driver
    * path must return rows held by the driver (local leaves only) and
    * the distributed one must not, both with the same schema and the
    * same `read` result, which is returned.
    */
  def onBothGraphPaths[T](build: => DataFrame)(read: DataFrame => T): T = {
    var got = Vector.empty[(String, DataFrame, T)]
    forEachGraphPath { path =>
      val df = build
      got :+= ((path, df, read(df)))
    }
    val Vector((_, local, want), (_, dist, other)) = got
    assert(finishedOnDriver(local) && !finishedOnDriver(dist),
      "the default session must finish on the driver, -1 must not")
    assert(dist.schema === local.schema, "schemas differ between paths")
    assert(other === want, "results differ between paths")
    want
  }

  /** `body`'s result and the Spark jobs it ran, counted by a listener
    * on this thread's job group; the listener bus is drained before
    * the count is read.
    */
  def jobsIn[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-in-${System.nanoTime}"
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null &&
          e.properties.getProperty("spark.jobGroup.id") == group)
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count")
    val out =
      try body
      finally {
        sc.clearJobGroup()
        org.apache.spark.ListenerBusDrain(sc)
        sc.removeSparkListener(listener)
      }
    (out, n.get)
  }

  /** True when `df` reads only rows the driver holds (local leaves): a
    * graph operator's result on the driver path.
    */
  def finishedOnDriver(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves()
      .forall(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
}
