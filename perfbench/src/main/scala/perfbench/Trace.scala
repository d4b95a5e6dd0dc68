package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the traced run. Harness spans (row, build,
  * action, lifecycle stage, Orchestrator call) are recorded by the
  * harness around its calls into the engine; job and stage spans come
  * from the Spark listener and hang off the harness span whose job group
  * started them. */
final case class Span(id: String, parent: String, kind: String,
                      name: String, startMs: Double, endMs: Double,
                      attrs: Map[String, Double] = Map.empty) {
  def seconds: Double = (endMs - startMs) / 1e3
}

/** Task-side totals of one completed stage attempt. */
final case class StageStats(stageId: Int, submitMs: Double,
                            endMs: Double, tasks: Int, failedTasks: Int,
                            runS: Double, cpuS: Double, gcS: Double,
                            shuffleReadB: Double, shuffleWriteB: Double,
                            spillB: Double)

/** Listener-side record of the traced run, kept in memory until exit.
  *
  * A row (or lifecycle stage) runs under the job group `perfbench-<spanId>`,
  * so each job carries the id of the harness span that caused it; jobs
  * started from pool threads that did not inherit the group are
  * attributed by time to the harness span that was open when they began.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val nextId = new AtomicLong(0)
  private val harness = new ConcurrentLinkedQueue[Span]()
  private val jobStart = new ConcurrentHashMap[Int, (Double, String)]()
  private val jobEnd = new ConcurrentHashMap[Int, Double]()
  private val stageTasks = new ConcurrentHashMap[Int, AtomicInteger]()
  private val stageFailed = new ConcurrentHashMap[Int, AtomicInteger]()
  private val stages = new ConcurrentLinkedQueue[StageStats]()
  /** (start ms, planning seconds) per query execution that reached an
    * action, from the QueryExecution tracker's phases. */
  private val plans = new ConcurrentLinkedQueue[(Double, Double)]()

  private def group(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).orNull

  def newId(prefix: String): String = s"$prefix${nextId.incrementAndGet()}"

  /** Runs `f` inside a harness span; the span is recorded even when `f`
    * throws. */
  def span[T](kind: String, name: String, parent: String,
              id: String = null)(f: => T): T = {
    val sid = if (id == null) newId("h") else id
    val t0 = nowMs()
    try f finally harness.add(Span(sid, parent, kind, name, t0, nowMs()))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStart.put(e.jobId, (e.time.toDouble, group(e.properties)))
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobEnd.put(e.jobId, e.time.toDouble)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    stageTasks.computeIfAbsent(e.stageId, _ => new AtomicInteger())
      .incrementAndGet()
    if (e.taskInfo.failed || e.taskInfo.killed)
      stageFailed.computeIfAbsent(e.stageId, _ => new AtomicInteger())
        .incrementAndGet()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    def n(x: => Long): Double = if (m == null) 0.0 else x.toDouble
    stages.add(StageStats(i.stageId, i.submissionTime.getOrElse(0L).toDouble,
      i.completionTime.getOrElse(0L).toDouble,
      Option(stageTasks.get(i.stageId)).map(_.get).getOrElse(0),
      Option(stageFailed.get(i.stageId)).map(_.get).getOrElse(0),
      n(m.executorRunTime) / 1e3, n(m.executorCpuTime) / 1e9,
      n(m.jvmGCTime) / 1e3, n(m.shuffleReadMetrics.totalBytesRead),
      n(m.shuffleWriteMetrics.bytesWritten),
      n(m.memoryBytesSpilled) + n(m.diskBytesSpilled)))
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = planned(qe)
  private def planned(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty)
      plans.add((phases.map(_.startTimeMs).min.toDouble,
        phases.map(p => p.endTimeMs - p.startTimeMs).sum / 1e3))
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(spark: SparkSession): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  def harnessSpans: Seq[Span] = harness.asScala.toSeq.sortBy(_.startMs)

  /** Job spans, each parented to the harness span of its job group or,
    * failing that, to the innermost `owners` span open at its start. */
  def jobSpans(owners: Seq[Span]): Seq[Span] =
    jobStart.asScala.toSeq.sortBy(_._1).map { case (id, (t0, g)) =>
      val parent = Option(g).filter(_.startsWith("perfbench-"))
        .map(_.stripPrefix("perfbench-"))
        .getOrElse(owner(owners, t0))
      Span(s"j$id", parent, "job", s"job $id", t0,
        Option(jobEnd.get(id)).getOrElse(t0))
    }

  def stageStats: Seq[StageStats] = stages.asScala.toSeq

  def stageSpans(jobs: Seq[Span], owners: Seq[Span]): Seq[Span] =
    stageStats.map { s =>
      val parent = jobs.filter(j => j.startMs <= s.submitMs &&
        s.submitMs <= j.endMs).lastOption.map(_.id)
        .getOrElse(owner(owners, s.submitMs))
      Span(s"s${s.stageId}", parent, "stage", s"stage ${s.stageId}",
        s.submitMs, s.endMs, Map("tasks" -> s.tasks.toDouble,
          "failed_tasks" -> s.failedTasks.toDouble, "run_s" -> s.runS,
          "cpu_s" -> s.cpuS, "gc_s" -> s.gcS,
          "shuffle_read_bytes" -> s.shuffleReadB,
          "shuffle_write_bytes" -> s.shuffleWriteB,
          "spill_bytes" -> s.spillB))
    }

  def planSeconds(from: Double, to: Double): (Int, Double) = {
    val in = plans.asScala.filter { case (t, _) => t >= from && t <= to }
    (in.size, in.map(_._2).sum)
  }

  private def owner(owners: Seq[Span], t: Double): String =
    owners.filter(o => o.startMs <= t && t <= o.endMs)
      .sortBy(_.startMs).lastOption.map(_.id).orNull

  private def nowMs(): Double = System.currentTimeMillis().toDouble
}

object Trace {
  /** Length of the union of the given intervals (ms). */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var covered = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) covered += curE - curS
    covered
  }

  def toJson(spans: Seq[Span]): String = Json(spans.map(s => Seq(
    "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
    "start_ms" -> s.startMs, "end_ms" -> s.endMs, "attrs" -> s.attrs)))
}
