package perfbench

/** Benchmark harness entry point, started by `perfbench/run.py`.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1>
  *                       <data dir> <work dir>
  *
  * Writes `<work dir>/report.json`: operations attempted and failed, the
  * metrics (end-to-end ones untraced, per-layer ones traced), the rows
  * dumped for the oracle compare, the run's validity record, and the
  * per-layer metrics that belong to the other workloads. */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, data, work) = args
    val c = Ctx(seed.toLong, seconds.toDouble,
      if (trace == "1") Some(new Tracer) else None, data, work)
    val report = workload match {
      case "lifecycle" => LifecycleRun(c)
      case w => QueryRun(c, Workloads.queryWorkloads.find(_.name == w)
        .getOrElse(sys.error(s"unknown workload $w; known: " +
          Workloads.all.mkString(", "))))
    }
    val others = Workloads.all.filterNot(_ == workload)
      .flatMap(Workloads.ownLayerMetrics).distinct
      .diff(Workloads.ownLayerMetrics(workload))
    Harness.writeFile(s"$work/report.json",
      Json(report :+ ("other_workloads_metrics" -> others)))
  }
}
