package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.run.{Orchestrator, ToolsConfig, WarehouseFs}

/** The lifecycle workload: the `graft.run.LifecycleBench` walk (land three
  * batches, seven overlapped artifact refreshes, four gates, ANN rebuild,
  * compaction, vacuum), issued here through `Orchestrator.Run` on a fresh
  * warehouse inside the run's work directory. The seed picks which
  * `doc_id` residue class lands in which batch and which rows the gates
  * probe. Every walk checks, between its timed stages, that each batch's
  * bronze row counts equal its slices; the stages keep the walk's
  * non-vacuity `require`s. */
object LifecycleRun {
  val Stages: Seq[String] =
    Seq("land", "refresh", "gates", "rebuild", "compact", "vacuum")
  val Refreshes: Seq[String] = Seq("knn_graph", "graph_ranks",
    "core_numbers", "hits_scores", "lpa_communities", "triangle_counts",
    "kcore")
  val GateProbes = 500

  final case class Stage(name: String, wallS: Double, cpuS: Double,
                         bytesWritten: Double, filesWritten: Int,
                         startMs: Double, endMs: Double)
  final case class Walk(stages: Seq[Stage], landedB: Double,
                        filesAfter: Int) {
    def wallS: Double = stages.map(_.wallS).sum
    def cpuS: Double = stages.map(_.cpuS).sum
    def writtenB: Double = stages.map(_.bytesWritten).sum
  }

  private def snapshot(wh: String): Map[Path, (Long, Long)] =
    Host.filesUnder(wh).map(p =>
      p -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toMap

  def walk(c: Ctx, spark: SparkSession, ops: Ops, wh: String,
           tr: Option[Tracer], walkId: String): Walk = {
    val docs = graft.Tables.t(spark, c.data, "documents")
      .select(col("doc_id"), col("text"), col("source"))
    val emb = graft.Tables.t(spark, c.data, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val residues = new scala.util.Random(c.seed).shuffle(Seq(0, 1, 2))
    def probes(df: DataFrame, key: String): DataFrame =
      df.orderBy(xxhash64(col(key), lit(c.seed))).limit(GateProbes)
    ToolsConfig.writeConfigFile(ToolsConfig.mvConfigPath(wh), Seq(
      "indexes/graph_host_ranks", "indexes/graph_hits_scores",
      "indexes/graph_triangle_counts", "indexes/graph_kcore",
      "indexes/graph_core_numbers", "indexes/graph_communities",
      "indexes/knn_graph")
      .map(t => s"""{"target_table":"$t","refresh_every":2}""") ++ Seq(
      """{"target_table":"bronze/documents","retention_keep_last":1}""",
      """{"target_table":"bronze/embeddings","retention_keep_last":3}"""))

    /** An Orchestrator call, traced as its own span under the stage. */
    def call[T](stageId: String, name: String)(f: => T): T =
      tr.fold(f)(_.span("call", name, stageId)(f))

    val stages = ArrayBuffer[Stage]()
    var landedB = 0.0
    def stage(name: String)(body: String => Unit): Unit = {
      val before = snapshot(wh)
      val id = tr.map(_.newId("l")).orNull
      val ms0 = System.currentTimeMillis().toDouble
      val cpu0 = Host.processCpuS
      val t0 = System.nanoTime()
      tr.foreach(_ => spark.sparkContext.setJobGroup(s"perfbench-$id", name))
      try ops(s"lifecycle.$name")(tr.fold(body(id))(_.span("lifecycle", name,
        walkId, id)(body(id))))
      finally if (tr.nonEmpty) spark.sparkContext.clearJobGroup()
      val wallS = (System.nanoTime() - t0) / 1e9
      val cpuS = Host.processCpuS - cpu0
      val ms1 = System.currentTimeMillis().toDouble
      val written = snapshot(wh).filter { case (p, v) => !before.get(p).contains(v) }
      if (name == "land")
        landedB = written.filter(_._1.toString.contains("/bronze/")).values.map(_._1).sum.toDouble
      stages += Stage(name, wallS, cpuS, written.values.map(_._1).sum.toDouble,
        written.size, ms0, ms1)
    }

    val slices = ArrayBuffer[(Orchestrator.Run, DataFrame, DataFrame)]()
    stage("land") { id =>
      (0 until 3).foreach { i =>
        val r = new Orchestrator.Run(spark, wh, f"B${i + 1}%04d")
        val dSlice = docs.where(col("doc_id") % 3 === residues(i))
        val eSlice = emb.where(col("vec_id") % 3 === residues(i)).repartition(4)
        call(id, "writeBatch")(r.refreshOverlapped(2)(
          () => r.writeBatch(dSlice, "bronze/documents"),
          () => r.writeBatch(eSlice, "bronze/embeddings")))
        call(id, "indexBatch")(r.refreshOverlapped(3)(
          () => r.indexDedupBatch(dSlice),
          () => r.indexAnnBatch(r.readBatch("bronze/embeddings")
            .select("vec_id", "embedding"), nlist = 64),
          () => r.indexGraphBatch(dSlice.select(col("source").as("src"),
            concat(lit("src"), (col("doc_id") % 7).cast("string")).as("dst")))))
        call(id, "flushAudit")(r.flushAudit())
        slices += ((r, dSlice, eSlice))
      }
    }
    slices.zipWithIndex.foreach { case ((r, d, e), i) =>
      ops(s"lifecycle.check.bronze.B${i + 1}") {
        val (landedD, wantD) = (r.readBatch("bronze/documents").count(), d.count())
        val (landedE, wantE) = (r.readBatch("bronze/embeddings").count(), e.count())
        require(landedD == wantD && landedE == wantE,
          s"batch ${i + 1}: bronze holds $landedD documents and $landedE " +
            s"embeddings, the slice has $wantD and $wantE")
      }
    }
    lazy val r = slices.last._1
    stage("refresh") { id =>
      def refresh(name: String)(f: => Any): () => Any =
        () => call(id, s"refresh.$name")(f)
      r.refreshOverlapped()(
        refresh("knn_graph")(r.refreshKnnGraphIfDue(k = 5, nprobe = 3)),
        refresh("graph_ranks")(r.refreshGraphRanksIfDue(iters = 3,
          redistributeDangling = true)),
        refresh("core_numbers")(r.refreshCoreNumbersIfDue()),
        refresh("hits_scores")(r.refreshHitsScoresIfDue(3)),
        refresh("lpa_communities")(r.refreshLpaCommunitiesIfDue(rounds = 3)),
        refresh("triangle_counts")(r.refreshTriangleCountsIfDue()),
        refresh("kcore")(r.refreshKCoreIfDue(k = 2)))
      call(id, "flushAudit")(r.flushAudit())
    }
    def drain(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val b4 = new Orchestrator.Run(spark, wh, "B0004")
    stage("gates") { id =>
      val d = probes(docs, "doc_id")
      call(id, "hostGateAgainstRanks")(drain(b4.hostGateAgainstRanks(d)))
      call(id, "linkFarmGateAgainstTriangles")(
        drain(b4.linkFarmGateAgainstTriangles(d)))
      call(id, "dedupAgainstIndexes")(drain(b4.dedupAgainstIndexes(d)))
      call(id, "dedupAgainstAnnIndexes")(drain(
        b4.dedupAgainstAnnIndexes(probes(emb, "vec_id"), eps = 1000000L)))
    }
    stage("rebuild") { id =>
      call(id, "rebuildAnnIndex")(b4.rebuildAnnIndex(nlist = 64, trainIters = 2))
    }
    stage("compact") { id =>
      require(call(id, "compactBatches")(
        b4.compactBatches("bronze/embeddings")).nonEmpty,
        "lifecycle walk: the compact stage rewrote nothing")
      call(id, "vacuumCompacted")(b4.vacuumCompacted("bronze/embeddings"))
      require(call(id, "compactAuditLog")(b4.compactAuditLog(minLoose = 2))
        .nonEmpty, "lifecycle walk: the audit fold folded nothing")
      call(id, "vacuumAuditLog")(b4.vacuumAuditLog())
    }
    stage("vacuum") { id =>
      require(call(id, "vacuumIfConfigured")(
        b4.vacuumIfConfigured("bronze/documents")).nonEmpty,
        "lifecycle walk: the vacuum stage dropped nothing")
      call(id, "flushAudit")(b4.flushAudit())
    }
    Walk(stages.toSeq, landedB, Host.filesUnder(wh).size)
  }

  def apply(c: Ctx): Seq[(String, Any)] = {
    val ops = new Ops
    val (spark, coldSetup, setups) = Harness.setup(c) { (s, _) =>
      ops("setup:inputs") {
        graft.Tables.t(s, c.data, "documents").count()
        graft.Tables.t(s, c.data, "embeddings").count()
      }
    }
    val warehouses = Iterator.from(1).map(i => s"${c.work}/warehouse-$i")
    def walkOn(tr: Option[Tracer] = None): Walk = {
      val wh = warehouses.next()
      val id = tr.map(_.newId("w")).orNull
      try tr.fold(walk(c, spark, ops, wh, tr, id))(
        _.span("walk", "lifecycle", null, id)(walk(c, spark, ops, wh, tr, id)))
      finally scala.util.Try(WarehouseFs.deleteRecursive(wh))
    }

    val (host0, steal0) = Host.hostCpuS
    val jvm0 = Host.processCpuS
    val load0 = Host.loadAvg1
    val window0 = System.nanoTime()
    // a walk takes about 25 s from a cold JVM, so one walk covers a run's
    // seconds; the first walk is timed cold, as a scheduled batch runs it
    val walks = (1 to math.max(1, math.ceil(c.seconds / 25).toInt)).map(_ => walkOn())
    val (host1, steal1) = Host.hostCpuS
    val otherCpu = (host1 - host0) - (Host.processCpuS - jvm0)
    val load1 = Host.loadAvg1
    val windowS = (System.nanoTime() - window0) / 1e9
    val med = (f: Walk => Double) => Harness.median(walks.map(f))
    val stageMedian = Stages.map(s =>
      s -> Harness.median(walks.flatMap(_.stages.find(_.name == s).map(_.wallS))))

    val (metrics, traceInfo): (Seq[(String, Double)], Seq[(String, Any)]) =
      c.tracer match {
        case None => (Seq(
          "total_s" -> med(_.wallS),
          "row_geomean_s" -> Harness.geomean(stageMedian.map(_._2)),
          "cpu_s" -> med(_.cpuS),
          "setup_s" -> Harness.median(setups),
          "retained_mb" -> Harness.retainedMb(spark),
          "write_amp" -> med(w => w.writtenB / w.landedB),
          "files_after" -> med(_.filesAfter.toDouble)), Nil)
        case Some(t) =>
          // a warm untraced walk, then the traced one
          val untraced = walkOn()
          t.attach(spark)
          val traced = walkOn(Some(t))
          t.detach(spark)
          val from = traced.stages.head.startMs
          val to = traced.stages.last.endMs
          val layer = Layers.summarize(t, "lifecycle", from, to)
          val calls = t.harnessSpans.filter(s => s.kind == "call" &&
            s.name.startsWith("refresh.") && s.startMs >= from)
          val spans = t.harnessSpans
          val jobs = t.jobSpans(spans.filter(s => s.kind == "lifecycle" ||
            s.kind == "walk"))
          val spansFile = s"${c.work}/spans-lifecycle.json"
          Harness.writeFile(spansFile,
            Trace.toJson(spans ++ jobs ++ t.stageSpans(jobs, spans)))
          (layer ++ Seq(
            "memo.persisted_rdds" ->
              spark.sparkContext.getPersistentRDDs.size.toDouble,
            "trace.total_s" -> traced.wallS,
            "trace.overhead_s" -> (traced.wallS - untraced.wallS),
            "warmup.passes_to_steady" ->
              Harness.passesToSteady((walks :+ untraced).map(_.wallS))
                .toDouble) ++
            traced.stages.flatMap(s => Seq(
              s"lifecycle.${s.name}_s" -> s.wallS,
              s"lifecycle.${s.name}.bytes_written" -> s.bytesWritten,
              s"lifecycle.${s.name}.files_written" -> s.filesWritten.toDouble)) ++
            Refreshes.map(a => s"lifecycle.refresh.${a}_s" ->
              calls.filter(_.name == s"refresh.$a").map(_.seconds).sum),
            Seq("spans_file" -> spansFile))
      }
    Seq(
      "workload" -> "lifecycle", "seed" -> c.seed,
      "traced" -> c.tracer.nonEmpty,
      "attempted" -> ops.attempted,
      "failures" -> ops.failures.map { case (n, e) => Seq(n, e) }.toSeq,
      "checked" -> Seq.empty[String],
      "metrics" -> metrics,
      "validity" -> Seq(
        "nproc" -> c.nproc,
        "host_other_cpu_s" -> otherCpu,
        "host_steal_s" -> (steal1 - steal0),
        "window_s" -> windowS,
        "loadavg_1m_start" -> load0, "loadavg_1m_end" -> load1,
        "walk_walls_s" -> walks.map(_.wallS),
        "passes_to_steady" -> Harness.passesToSteady(walks.map(_.wallS)),
        "cold_setup_s" -> coldSetup,
        "setup_s_each" -> setups),
      "stages_median_s" -> stageMedian,
      "gate_probe_rows" -> GateProbes,
      "batch_residues" -> new scala.util.Random(c.seed).shuffle(Seq(0, 1, 2))) ++
      traceInfo
  }
}
