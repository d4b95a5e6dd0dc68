package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Whole-registry and dev timer over the registered queries on
  * SPARK_GRAFT_SF_DIR (the repo benchmark is `perfbench/`).
  *
  * Usage: runMain graft.Bench [name...]
  *
  *  - No names: the full sweep. Every registered query is timed, then
  *    every non-reference row that ran is re-timed on the 10x smaller
  *    sibling dataset, then the LifecycleBench walk runs. The full
  *    per-query artifact goes to SPARK_GRAFT_BENCH_OUT (default
  *    BENCH_LOCAL.json) and stdout ends with one compact
  *    `bench_summary` JSON line.
  *  - Names: only those rows, under the same discipline; `lifecycle`
  *    names the LifecycleBench walk. Each query row prints the per-job
  *    profile of its untimed warm-up run, then its median and spread.
  *
  * Measurement discipline: results are materialized through the noop
  * sink (`format("noop")`) — a bare `.count()` lets Catalyst prune every
  * unreferenced projection column, so expression-heavy queries would be
  * mostly unmeasured. A warmup query runs first (untimed) so the first
  * timed query doesn't absorb session/codegen/JIT startup. Each query
  * then runs SPARK_GRAFT_BENCH_RUNS times (default 3): the FIRST run is
  * a per-query warm-up EXCLUDED from the stats (it pays plan-local
  * codegen/file-listing/JIT that r12 showed as spread > median on
  * trivial aggregates), the rest report the MEDIAN with the max-min
  * spread beside it: single-run timings whipsawed up to 4.5x across
  * rounds on same-code queries (box drift amplified on short queries),
  * burning review cycles on phantom regressions. Any row whose spread
  * still exceeds its median is named in "unstable" — a do-not-compare
  * marker for round-over-round diffs. q_ref_* queries run once — they
  * memoize the reference fixture per session, so their re-runs would
  * time the cache, not the query.
  */
object Bench {

  /** Cross-sf scaling guard: a query whose time grew more than
    * `slack x dataRatio` when the data grew `dataRatio`x is flagged as
    * super-linear — the only empirical 100x signal available with no
    * sf > 0.1 on disk. Pure so BenchScalingSpec can prove a seeded
    * quadratic (t ~ n^2: ratio 100 at dataRatio 10) trips the flag while
    * linear and constant-overhead queries don't. slack absorbs the
    * documented ~2x cross-run box variance; at toy scale fixed overheads
    * dominate, so real ratios sit well BELOW dataRatio and the flag only
    * fires on genuinely super-linear growth.
    */
  def superLinear(tSmall: Map[String, Double], tBig: Map[String, Double],
                  dataRatio: Double, slack: Double = 1.5): Map[String, Double] = {
    val floor = 0.05 // below timing resolution: ratios are pure noise
    tBig.flatMap { case (n, big) =>
      tSmall.get(n).collect {
        case small if small >= floor && big / small > dataRatio * slack =>
          n -> big / small
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val unknown = args.toSet - "lifecycle" -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown rows: ${unknown.mkString(", ")}")
    val spark = Session()

    def runAt(name: String, dir: String): Unit =
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()

    // SPARK_GRAFT_BENCH_RUNS (default 3) = executions per query: one
    // per-query WARM-UP excluded from the stats + the rest timed. r12
    // showed first-run costs this plan-local warm-up absorbs (codegen,
    // file listing, JIT for THIS plan) inflating spreads past medians
    // on trivial aggregates; the global warm-up query can't absorb
    // per-plan costs.
    val benchRuns = math.max(2,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    // (median, max-min spread, first failure) over the timed runs;
    // q_ref_* memoize the fixture per session, so they get exactly one
    // run, no warm-up (a warm-up would leave every timed run a cache hit).
    // `profile` prints the per-job profile of the untimed warm-up run.
    def timed(name: String, dir: String, profile: Boolean = false)
        : (Double, Double, Option[Throwable]) = {
      var failure: Option[Throwable] = None
      def one(): Double = {
        val t0 = System.nanoTime()
        try runAt(name, dir) catch { case e: Throwable =>
          if (failure.isEmpty) failure = Some(e)
        }
        (System.nanoTime() - t0) / 1e9
      }
      if (name.startsWith("q_ref_")) return (one(), 0.0, failure)
      if (profile) profiled(spark, name)(one()) else one() // warm-up, excluded
      // failed warm-up: timed runs would too
      if (failure.nonEmpty) return (0.0, 0.0, failure)
      val ts = (1 until benchRuns).map(_ => one()).sorted
      val med = if (ts.size % 2 == 1) ts(ts.size / 2)
                else (ts(ts.size / 2 - 1) + ts(ts.size / 2)) / 2
      (med, ts.last - ts.head, failure)
    }
    // Locale-pinned number formatting: the f-interpolator uses the
    // default locale, which under a comma-decimal JVM would emit
    // "value":54,588 and break the JSON.
    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val lifecycleWalks =
      sys.env.getOrElse("SPARK_GRAFT_LIFECYCLE_RUNS", "2").toInt

    // Warmup: one join-heavy query, untimed.
    try runAt("q_surrogate_lookup", sfDir) catch { case _: Throwable => () }

    if (args.nonEmpty) {
      args.foreach {
        case "lifecycle" =>
          val stages = graft.run.LifecycleBench.run(spark, sfDir, lifecycleWalks)
          println("BENCH lifecycle " +
            stages.map { case (k, v) => s"$k=${num(v)}" }.mkString(" "))
        case name =>
          timed(name, sfDir, profile = true) match {
            case (med, spr, None) => println(s"BENCH $name med=${num(med)} s " +
              s"spread=${num(spr)} s runs=${benchRuns - 1}")
            case (_, _, Some(e)) => println(s"BENCH $name ERROR ${e.getMessage}")
          }
      }
      spark.stop()
      return
    }

    // Pre-build session-memoized artifacts untimed, same rationale as
    // the warmup: bucketized tables, the corpus dedup indexes, trained
    // centroids/assignments, and the reference silver/gold chain all
    // model PERSISTED warehouse state (built once by a pipeline, probed
    // by queries), so timed runs should measure the probe. Doing it
    // here — instead of letting run 1 of the owning query pay the build
    // — keeps every timed run homogeneous: the median no longer excludes
    // a one-time cost that run 1 absorbed, and round-over-round diffs
    // can't misread that asymmetry as a speedup.
    def prewarm(dir: String, refToo: Boolean): Unit = {
      val memoized = Seq("q_join_bucketed", "q_dedup_incremental",
        "q_sim_ann_ivf_trained", "q_dedup_semantic",
        // builds BOTH memoized dedup frames (LSH candidate pairs + the
        // star-contraction component table) that cluster_pick /
        // leakage-safe-split / minhash_lsh then probe
        "q_dedup_components",
        // builds the memoized duplicated-window frame (the persisted
        // span-report artifact) the report + removal rows both probe
        "q_text_dup_spans",
        // builds the memoized exact-containment verdict frame the
        // exact + sketch rows both probe
        "q_dedup_containment",
        // builds the memoized DSIR bucket histogram + weight table
        // (the two once-per-snapshot artifacts selection/eval probe)
        "q_sample_dsir",
        // builds the memoized per-doc bigram-LM score table the
        // perplexity + ccnet-tercile rows both probe
        "q_text_lm_perplexity",
        // builds the memoized master variant index (the persisted
        // entity-resolution blocking table) the incremental fuzzy
        // match probes
        "q_dedup_fuzzy_incremental",
        // builds the memoized fuzzy pair frame the join + cluster
        // rows both consume
        "q_dedup_fuzzy_join",
        // builds the memoized cluster table (canonical re-attachment
        // probes it) and the memoized host rank table (the gate row
        // probes it)
        "q_dedup_fuzzy_cluster", "q_graph_pagerank",
        // builds the memoized kNN-graph edge frame the recall and
        // mutual-cluster rows both probe
        "q_sim_knn_graph",
        // builds the memoized corpus-trained centroids + corpus list
        // assignments (the persisted vector-dedup index) the
        // incremental semantic row probes
        "q_dedup_semantic_incremental",
        // builds the memoized SQ8-coded corpus (the train-once range
        // model) the search + recall rows both probe
        "q_sim_ann_sq",
        // builds the memoized source-graph triangle counts (the
        // persisted graph_triangle_counts stand-in) the gate probes
        "q_graph_linkfarm_gate",
        // builds the memoized round-4 LPA labeling (the persisted
        // communities artifact stand-in) the modularity + refined
        // rows probe, and the memoized source-graph core numbers the
        // core gate probes
        "q_graph_lpa", "q_graph_core_gate") ++
        (if (refToo) Seq("q_ref_fact_sales") else Nil)
      memoized.foreach(n => try runAt(n, dir) catch { case _: Throwable => () })
    }
    prewarm(sfDir, refToo = true)

    val stats = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      val (med, spr, failure) = timed(name, sfDir)
      (name, med, spr, failure.isEmpty)
    }
    // a failing query is NAMED, never timed: its time-to-exception
    // would read as a phantom speedup in round-over-round diffs (the
    // same fabrication rule the scaling pass has always applied)
    val errored = stats.collect { case (n, _, _, false) => n }
    val results = stats.collect { case (n, med, _, true) => n -> med }
    val spreads = stats.collect { case (n, _, spr, true) => n -> spr }
    // Timing-sanity flag: a row whose max-min spread exceeds its median
    // (above the timing-resolution floor) is box noise, not plan cost —
    // round-over-round perf conclusions must not be drawn from it. r12
    // drew phantom 40-70x "regressions" from exactly such rows.
    val unstable = stats.collect {
      case (n, med, spr, true) if med >= 0.05 && spr > med => n
    }
    def dict(entries: Seq[(String, Double)]): String =
      entries.map { case (n, v) => s""""$n":${num(v)}""" }.mkString("{", ",", "}")
    def nameArr(ns: Seq[String]): String =
      ns.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum

    // Cross-sf scaling pass: re-time every row that ran on the 10x
    // smaller sibling dataset and record per-query time ratios + the
    // super-linear flags. q_ref_* are excluded: they pin the reference
    // fixture regardless of dir AND memoize silver/gold per session, so
    // their small-pass time is cache-hit noise, not a scaling signal.
    val smallDir = sys.env.get("SPARK_GRAFT_SCALING_DIR")
      .orElse(if (sfDir.endsWith("sf0.1")) Some(sfDir.stripSuffix("sf0.1") + "sf0.01")
              else None)
      .filter(d => java.nio.file.Files.isDirectory(java.nio.file.Paths.get(d)))
    val scaling = smallDir.map { dir =>
      val scalingNames = results.map(_._1).filterNot(_.startsWith("q_ref_"))
      try runAt("q_surrogate_lookup", dir) catch { case _: Throwable => () }
      prewarm(dir, refToo = false)
      // a failed small-sf run is EXCLUDED (and named in "errors"), never
      // timed: recording time-to-exception would fabricate a ratio and
      // could flag a query that didn't run as super-linear. Medians on
      // both sides so one noisy run can't fabricate a ratio either.
      val attempts = scalingNames.map { name =>
        val (med, _, failure) = timed(name, dir)
        (name, med, failure.isEmpty)
      }
      val tSmall = attempts.collect { case (n, t, true) => n -> t }.toMap
      val errors = attempts.collect { case (n, _, false) => n }
      val tBig = results.toMap
      val ratios = scalingNames.flatMap(n =>
        for (s <- tSmall.get(n); b <- tBig.get(n)) yield n -> b / math.max(s, 1e-3))
      val flagged = superLinear(tSmall, tBig, dataRatio = 10.0)
      (s""","scaling":{"small_sf":"$dir","data_ratio":10,"flagged":${
        nameArr(flagged.keys.toSeq)},"errors":${nameArr(errors)
      },"ratios":${dict(ratios)}}""", flagged.size, errors.size,
        flagged.keys.toSeq, errors)
    }
    val scalingJson = scaling.map(_._1).getOrElse("")

    // Lifecycle-plane timing (run/LifecycleBench): the land → cadence
    // refresh → gates → ANN rebuild → vacuum walk, per-stage seconds —
    // the maintenance ops BENCH's query rows never execute. A dead walk
    // is NAMED ("lifecycle_error"), never silently absent, and never
    // timed (the errored-query fabrication rule).
    val lifecycle: Either[String, Seq[(String, Double)]] =
      if (lifecycleWalks <= 0) Left("disabled")
      else try Right(graft.run.LifecycleBench.run(spark, sfDir, lifecycleWalks))
      catch { case e: Throwable =>
        Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
      }
    // Lifecycle scaling (the query rows' sf-ratio discipline applied to
    // the maintenance plane): re-walk the lifecycle on the 10x smaller
    // sibling, record per-stage ratios, and flag super-linear stages
    // through the SAME superLinear rule (BenchScalingSpec-proven) the
    // query pass uses — the refresh stage (seven whole-graph fixpoint
    // artifacts) is the plausible future regression site, and without
    // this block it could go quadratic invisibly. A dead small walk is
    // NAMED ("lifecycle_scaling_error"), never timed.
    val lifecycleScalingJson = (lifecycle, smallDir) match {
      case (Right(big), Some(dir)) =>
        try {
          val small = graft.run.LifecycleBench
            .run(spark, dir, lifecycleWalks).toMap
          val tBig = big.toMap
          val ratios = graft.run.LifecycleBench.Stages
            .flatMap(s => for (sm <- small.get(s); bg <- tBig.get(s))
              yield s -> bg / math.max(sm, 1e-3))
          val flagged = superLinear(small, tBig, dataRatio = 10.0)
          s""","lifecycle_scaling":{"small_sf":"$dir","data_ratio":10,""" +
            s""""flagged":${nameArr(flagged.keys.toSeq)},"ratios":${dict(ratios)}}"""
        } catch { case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
            .take(200).replaceAll("[\"\\\\\\n\\r\\t]", " ")
          s""","lifecycle_scaling_error":"$msg""""
        }
      case _ => ""
    }
    val lifecycleJson = (lifecycle match {
      case Right(stages) => s""","lifecycle":${dict(stages)}"""
      case Left("disabled") => ""
      case Left(msg) =>
        s""","lifecycle_error":"${msg.replaceAll("[\"\\\\\\n\\r\\t]", " ")}""""
    }) + lifecycleScalingJson

    // "queries" stays name->median (same shape as every prior round);
    // "spread" carries max-min over the runs so a flaky timing is
    // visible as data instead of whipsawing the median across rounds.
    // The per-query dicts can push the leading scalars ("value",
    // "n_queries", the flag counts) far from the end of the object, so
    // the same scalars are REPEATED as its last keys. (Duplicate keys
    // are avoided: the tail uses its own names.)
    val tailJson =
      s""","tail":{"total_s":${num(total)},"tail_n_queries":${results.size
      },"n_errors":${errored.size},"tail_n_unstable":${unstable.size
      },"n_scaling_flagged":${scaling.map(_._2).getOrElse(-1)
      },"n_scaling_errors":${scaling.map(_._3).getOrElse(-1)}}"""
    // Full per-query dicts to a file so round-over-round diffs cover
    // every query.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      s"""{"metric":"total","value":${num(total)},"unit":"sec","runs":${benchRuns - 1},"warmup":1,"n_queries":${results.size},"errors":${nameArr(errored)},"n_unstable":${unstable.size},"unstable":${nameArr(unstable)},"queries":${dict(results)},"spread":${dict(spreads)}$scalingJson$lifecycleJson,"sf":"$sfDir"$tailJson}""".getBytes("UTF-8"))
    // The one stdout line: a COMPLETE compact JSON object, sized to
    // survive a ~2000-char stdout-tail capture whole (the sbt epilogue
    // after it costs ~100 chars). It carries every scalar, the NAME
    // lists (capped at 12 per list; the n_* counts stay exact so a cap
    // is visible, never a silent truncation), and the slowest
    // per-query medians down to whatever budget the lists leave.
    def capped(ns: Seq[String]): String = nameArr(ns.sorted.take(12))
    val scalingFlagged = scaling.map(_._4).getOrElse(Nil)
    val scalingErrored = scaling.map(_._5).getOrElse(Nil)
    val head =
      s"""{"metric":"bench_summary","value":${num(total)},"unit":"sec","sf":"$sfDir","runs":${benchRuns - 1},"warmup":1,"n_queries":${results.size},"n_errors":${errored.size},"errors":${capped(errored)},"n_unstable":${unstable.size},"unstable":${capped(unstable)},"n_scaling_flagged":${scaling.map(_._2).getOrElse(-1)},"scaling_flagged":${capped(scalingFlagged)},"n_scaling_errors":${scaling.map(_._3).getOrElse(-1)},"scaling_errors":${capped(scalingErrored)}$lifecycleJson"""
    val budget = 1800 - head.length - ""","slowest":{}}""".length
    val slowEntries = results.sortBy(-_._2)
      .map { case (n, v) => s""""$n":${num(v)}""" }
    var used = 0
    val slowKept = slowEntries.takeWhile { e =>
      used += e.length + 1; used <= budget
    }
    println(s"""$head,"slowest":{${slowKept.mkString(",")}}}""")
    spark.stop()
  }

  /** Runs `run` under a listener and prints one line per Spark job it
    * started: job wall, stages, tasks, shuffle bytes read and written,
    * executor run time. Only a row's untimed warm-up runs this way, so
    * timed runs stay untraced.
    */
  private def profiled(spark: SparkSession, name: String)(
      run: => Double): Double = {
    final case class Job(id: Int, desc: String, start: Long,
                         var end: Long = 0L, var stages: Int = 0,
                         var tasks: Int = 0, var shuffleRead: Long = 0L,
                         var shuffleWrite: Long = 0L,
                         var runTimeMs: Long = 0L)
    val jobs = mutable.ArrayBuffer[Job]()
    val stageToJob = mutable.HashMap[Int, Job]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.synchronized {
          val j = Job(e.jobId, Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse(""), e.time)
          jobs += j
          e.stageIds.foreach(stageToJob(_) = j)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized(jobs.find(_.id == e.jobId).foreach(_.end = e.time))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        jobs.synchronized {
          val s = e.stageInfo
          stageToJob.get(s.stageId).foreach { j =>
            j.stages += 1
            j.tasks += s.numTasks
            j.shuffleRead += s.taskMetrics.shuffleReadMetrics.totalBytesRead
            j.shuffleWrite += s.taskMetrics.shuffleWriteMetrics.bytesWritten
            j.runTimeMs += s.taskMetrics.executorRunTime
          }
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val wall = try run finally {
      // the listener bus delivers asynchronously: give the run's last
      // job end a bounded wait to arrive
      val deadline = System.nanoTime() + 2000000000L
      while (jobs.synchronized(jobs.exists(_.end == 0L)) &&
             System.nanoTime() < deadline) Thread.sleep(10)
      sc.removeSparkListener(listener)
    }
    val snapshot = jobs.synchronized(jobs.toVector)
    val jobWall = snapshot.map(j => (j.end - j.start) / 1e3).sum
    println(f"WARMUP $name wall=$wall%.3f s jobs=${snapshot.size}%d " +
      f"sum(job wall)=$jobWall%.3f s (the gap is driver/planning time)")
    snapshot.foreach { j =>
      println(f"  job ${j.id}%4d ${(j.end - j.start) / 1e3}%7.3f s " +
        f"stages=${j.stages}%2d tasks=${j.tasks}%4d shufR=${j.shuffleRead}%9d " +
        f"shufW=${j.shuffleWrite}%9d cpuMs=${j.runTimeMs}%6d ${j.desc.take(60)}")
    }
    wall
  }
}
