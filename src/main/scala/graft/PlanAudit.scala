package graft

/** Dev tool: print the formatted physical plan of one or more registered
  * queries (all of them if no names given) so scan pruning, broadcasts,
  * window group limits and exchange placement can be audited — or, with
  * `--lint`, run graft.plans.PlanLint's structural rules over the
  * queries and print only the violations (the same check PlanLintSpec
  * gates the build on); `--lint-executed` runs the post-execution
  * face instead (materializes each query under the normal AQE session
  * and lints the runtime-final plan — the check PlanLintSpec applies
  * to every registered query).
  *
  * Usage: runMain graft.PlanAudit [--lint|--lint-executed] [sfDir] [queryName...]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val executedMode = args.headOption.contains("--lint-executed")
    val lintMode = args.headOption.contains("--lint") || executedMode
    val rest = if (lintMode) args.drop(1) else args
    val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (rest.length > 1) rest.drop(1).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val base = Session()
    val spark =
      if (lintMode && !executedMode) graft.plans.PlanLint.lintSession(base)
      else base
    var nViolations = 0
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        if (lintMode) {
          val vs =
            if (executedMode) graft.plans.PlanLint.lintExecuted(name, df)
            else graft.plans.PlanLint.lint(name, df)
          nViolations += vs.length
          vs.foreach(v => println(s"LINT $v"))
        } else {
          println(s"\n========== $name ==========")
          println(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        }
      } catch { case e: Throwable =>
        println(s"ERROR $name: ${e.getMessage}")
        if (lintMode) nViolations += 1
      }
    }
    if (lintMode) println(s"== plan lint: ${names.length} queries, $nViolations violations ==")
    base.stop()
    // scripted gate contract: violations (or construction errors) must
    // surface as a nonzero exit, not just log lines
    if (lintMode && nViolations > 0) sys.exit(1)
  }
}
