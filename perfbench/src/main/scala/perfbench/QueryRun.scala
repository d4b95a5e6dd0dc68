package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** One run of a query workload: the set-ups, the first of which dumps
  * every row's result for the oracle compare, the timed passes, and, when
  * traced, two traced passes and the artifact builds. */
object QueryRun {
  final case class Pass(wallS: Double, cpuS: Double, writtenB: Double,
                        rows: Seq[(String, Double)], startMs: Double,
                        endMs: Double)

  def apply(c: Ctx, w: QueryWorkload): Seq[(String, Any)] = {
    val registry = SparkEntry.queries
    val ops = new Ops
    def build(s: SparkSession, name: String): DataFrame = registry(name)(s, c.data)
    def drain(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // A set-up runs a warm-up row on its fresh session, as graft.Bench
    // does before timing, and then every row once, so that work a row
    // memoizes in its session is paid here and not in the timed passes.
    // The first set-up is the checking pass: it dumps each row's result
    // for the oracle compare.
    val checkDir = s"${c.work}/check"
    val (spark, coldSetup, setups) = Harness.setup(c) { (s, first) =>
      ops(s"setup:${Workloads.warmupRow}")(drain(build(s, Workloads.warmupRow)))
      w.rows.foreach(n => ops(n) {
        val df = build(s, n)
        if (first) df.coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$n")
        else drain(df)
      })
    }
    Harness.writeFile(s"$checkDir/oracle_sql.json", Json(
      w.rows.map(n => n -> SparkEntry.oracleSql.getOrElse(n, null))))

    val order = new scala.util.Random(c.seed).shuffle(w.rows)
    var lastStage = PerfbenchBus.diskWrites(spark.sparkContext, -1)._2
    def pass(tr: Option[Tracer]): Pass = {
      val cpu0 = Host.processCpuS
      val t0 = System.nanoTime()
      val ms0 = System.currentTimeMillis().toDouble
      val passId = tr.map(_.newId("p")).orNull
      def runRows = order.map { n =>
        val r0 = System.nanoTime()
        tr match {
          case None => ops(n)(drain(build(spark, n)))
          case Some(t) =>
            val id = t.newId("r")
            t.span("row", n, passId, id) {
              spark.sparkContext.setJobGroup(s"perfbench-$id", n)
              try ops(n) {
                val df = t.span("build", n, id)(build(spark, n))
                t.span("action", n, id)(drain(df))
              } finally spark.sparkContext.clearJobGroup()
            }
        }
        n -> (System.nanoTime() - r0) / 1e9
      }
      val rows = tr.fold(runRows)(_.span("pass", w.name, null, passId)(runRows))
      val wallS = (System.nanoTime() - t0) / 1e9
      val cpuS = Host.processCpuS - cpu0
      val ms1 = System.currentTimeMillis().toDouble
      val (written, last) = PerfbenchBus.diskWrites(spark.sparkContext, lastStage)
      lastStage = last
      Pass(wallS, cpuS, written, rows, ms0, ms1)
    }

    val (host0, steal0) = Host.hostCpuS
    val jvm0 = Host.processCpuS
    val load0 = Host.loadAvg1
    val window0 = System.nanoTime()
    val passes = (1 to Harness.passes(c.seconds, w.passS)).map(_ => pass(None))
    val (host1, steal1) = Host.hostCpuS
    val otherCpu = (host1 - host0) - (Host.processCpuS - jvm0)
    val load1 = Host.loadAvg1
    val windowS = (System.nanoTime() - window0) / 1e9

    val totalS = Harness.median(passes.map(_.wallS))
    val rowMedians = w.rows.map(n =>
      n -> Harness.median(passes.flatMap(_.rows.find(_._1 == n).map(_._2))))
    val retained = Harness.retainedMb(spark)
    val filesAfter = Host.openFiles

    val (metrics, traceInfo) = c.tracer match {
      case None =>
        (Seq(
          "total_s" -> totalS,
          "row_geomean_s" -> Harness.geomean(rowMedians.map(_._2)),
          "cpu_s" -> Harness.median(passes.map(_.cpuS)),
          "setup_s" -> Harness.median(setups),
          "retained_mb" -> retained,
          "write_amp" -> Harness.median(passes.map(_.writtenB)) /
            Host.filesUnder(c.data).map(java.nio.file.Files.size).sum,
          "files_after" -> filesAfter), Nil)
      case Some(t) =>
        t.attach(spark)
        val traced = Seq(pass(Some(t)), pass(Some(t)))
        t.detach(spark)
        val persisted = spark.sparkContext.getPersistentRDDs.size
        // each artifact's build, on one fresh session so none is a memo hit
        val fresh = spark.newSession()
        val memo = w.artifacts.map(a =>
          a -> Harness.seconds(ops(s"artifact:$a")(drain(build(fresh, a)))))
        traceMetrics(c, w, t, traced, totalS, memo, passes, persisted)
    }
    Seq(
      "workload" -> w.name, "seed" -> c.seed, "traced" -> c.tracer.nonEmpty,
      "attempted" -> ops.attempted,
      "failures" -> ops.failures.map { case (n, e) => Seq(n, e) }.toSeq,
      "check_dir" -> checkDir, "checked" -> w.rows,
      "metrics" -> metrics,
      "validity" -> Seq(
        "nproc" -> c.nproc,
        "host_other_cpu_s" -> otherCpu,
        "host_steal_s" -> (steal1 - steal0),
        "window_s" -> windowS,
        "loadavg_1m_start" -> load0, "loadavg_1m_end" -> load1,
        "pass_walls_s" -> passes.map(_.wallS),
        "passes_to_steady" -> Harness.passesToSteady(passes.map(_.wallS)),
        "cold_setup_s" -> coldSetup,
        "setup_s_each" -> setups),
      "rows_median_s" -> rowMedians,
      "row_order" -> order,
      "excluded" -> Workloads.excluded.map { case (n, r) => Seq(n, r) }) ++
      traceInfo
  }

  private def traceMetrics(c: Ctx, w: QueryWorkload, t: Tracer,
                           traced: Seq[Pass], untracedS: Double,
                           memo: Seq[(String, Double)], passes: Seq[Pass],
                           persisted: Int)
      : (Seq[(String, Double)], Seq[(String, Any)]) = {
    val first = traced.head
    val layer = Layers.summarize(t, "row", first.startMs, first.endMs)
    val jobsByPass = traced.map(p =>
      Layers.jobsPerOp(t, "row", p.startMs, p.endMs)
        .map { case (_, n, _, j) => n -> j }.toMap)
    val unsteady = w.rows.filter(n => jobsByPass.map(_.get(n)).distinct.size > 1)
    val perRow = Layers.jobsPerOp(t, "row", first.startMs, first.endMs)
      .flatMap { case (_, n, s, j) =>
        Seq(s"row.$n.wall_s" -> s, s"row.$n.jobs" -> j.toDouble) }
    val spans = t.harnessSpans
    val jobs = t.jobSpans(spans.filter(s => s.kind == "row" || s.kind == "pass"))
    Harness.writeFile(s"${c.work}/spans-${w.name}.json",
      Trace.toJson(spans ++ jobs ++ t.stageSpans(jobs, spans)))
    (layer ++ Seq(
      "memo.persisted_rdds" -> persisted.toDouble,
      "spark.unsteady_job_rows" -> unsteady.size.toDouble,
      "warmup.passes_to_steady" ->
        Harness.passesToSteady(passes.map(_.wallS)).toDouble,
      "trace.total_s" -> first.wallS,
      "trace.overhead_s" -> (first.wallS - untracedS)) ++
      memo.map { case (a, s) => s"setup.memo.${a}_s" -> s } ++ perRow,
      Seq("unsteady_job_rows" -> unsteady,
        "spans_file" -> s"${c.work}/spans-${w.name}.json"))
  }
}
