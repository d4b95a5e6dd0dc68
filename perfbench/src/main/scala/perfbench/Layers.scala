package perfbench

/** Per-layer totals of one traced pass or walk, from the tracer's spans
  * inside the time window [from, to]. `opKind` names the harness spans
  * that are operations (query rows or lifecycle stages); their driver
  * self time is their wall minus the union of their jobs' intervals. */
object Layers {
  def summarize(tr: Tracer, opKind: String, from: Double,
                to: Double): Seq[(String, Double)] = {
    val hs = tr.harnessSpans.filter(s => s.startMs >= from && s.endMs <= to)
    val ops = hs.filter(_.kind == opKind)
    val builds = hs.filter(_.kind == "build")
    val jobs = tr.jobSpans(ops).filter(j => j.startMs >= from && j.startMs <= to)
    val stages = tr.stageStats.filter(s => s.submitMs >= from && s.submitMs <= to)
    val (actions, planS) = tr.planSeconds(from, to)
    val buildJobs = jobs.count(j =>
      builds.exists(b => b.startMs <= j.startMs && j.startMs <= b.endMs))
    val driverGap = ops.map { o =>
      val iv = jobs.filter(_.parent == o.id)
        .map(j => (math.max(j.startMs, o.startMs), math.min(j.endMs, o.endMs)))
      o.seconds - Trace.unionMs(iv) / 1e3
    }.sum
    val runS = stages.map(_.runS).sum
    val cpuS = stages.map(_.cpuS).sum
    val mb = 1048576.0
    Seq(
      "queries.build_s" -> builds.map(_.seconds).sum,
      "queries.build_jobs" -> buildJobs.toDouble,
      "catalyst.plan_s" -> planS,
      "catalyst.actions" -> actions.toDouble,
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> stages.size.toDouble,
      "spark.tasks" -> stages.map(_.tasks).sum.toDouble,
      "spark.failed_tasks" -> stages.map(_.failedTasks).sum.toDouble,
      "spark.driver_gap_s" -> driverGap,
      "tasks.run_s" -> runS,
      "tasks.cpu_s" -> cpuS,
      "tasks.gc_s" -> stages.map(_.gcS).sum,
      "tasks.cpu_ratio" -> (if (runS > 0) cpuS / runS else 0.0),
      "exchange.shuffle_read_mb" -> stages.map(_.shuffleReadB).sum / mb,
      "exchange.shuffle_write_mb" -> stages.map(_.shuffleWriteB).sum / mb,
      "exchange.spill_mb" -> stages.map(_.spillB).sum / mb)
  }

  /** Jobs per operation span inside the window, by operation name. */
  def jobsPerOp(tr: Tracer, opKind: String, from: Double,
                to: Double): Seq[(String, String, Double, Int)] = {
    val ops = tr.harnessSpans.filter(s => s.kind == opKind &&
      s.startMs >= from && s.endMs <= to)
    val jobs = tr.jobSpans(ops)
    ops.map(o => (o.id, o.name, o.seconds, jobs.count(_.parent == o.id)))
  }
}
