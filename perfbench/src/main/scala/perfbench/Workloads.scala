package perfbench

import graft.SparkEntry
import graft.queries._

/** A query workload: rows drawn from named query packs. `artifacts` are
  * the SessionMemo artifacts of those packs (persisted frames and trained
  * models that other rows probe); the traced run times each one's build.
  * The timed rows probe none of them, so no set-up work hides their cost. */
final case class QueryWorkload(name: String, packs: Seq[QueryPack],
                               rows: Seq[String], artifacts: Seq[String],
                               passS: Double)

object Workloads {
  /** Rows that read the reference fixture batch, whose input directory is
    * not part of the repository. */
  val referenceRows: Seq[String] =
    SparkEntry.queries.keys.filter(n => n.startsWith("q_ref_") ||
      n == "q_scan_csv").toSeq.sorted

  // A warm pass over a whole pack takes about 0.3 to 1.2 s per row on 4
  // cores (the tables of perfbench/gen_data.py), and a run also pays 10 to
  // 20 s of JVM start and cold set-up, while the benchmark as a whole
  // must fit 70 runs in under an hour. Each workload therefore
  // times a fixed subset of its packs, chosen to cover the layer the
  // workload stresses; `passS` is its warm pass length there. The packs'
  // other rows are listed as excluded in the report.

  /** Many short SQL rows: planning, scans and small shuffles. */
  val warehouseSql = QueryWorkload("warehouse_sql",
    Seq(CoreQueries, AggQueries, WindowQueries, EventQueries,
      RecursiveQueries, QaQueries, IoQueries, MergeQueries),
    Seq("q_scan_pruned", "q_join_enrich", "q_agg_pricing_summary",
      "q_agg_grouping_sets", "q_window_running_sum", "q_events_sessionize"),
    Nil, passS = 1.6)

  /** Per-document kernels: native text expressions (`functions/`) and
    * the image near-dup band join, over a corpus large enough that task
    * CPU outweighs per-query fixed cost. None of the rows probes a
    * SessionMemo artifact. `artifacts` are the packs' memoized operators
    * whose rows time only a memo hit: LSH candidate pairs with their
    * star-contraction components, the bigram-LM score table, and from the
    * graph pack PageRank host ranks, the LPA labeling and fuzzy-join
    * pairs; the traced run times each one's build. The graph pack has no
    * workload of its own: its fixpoint operators are timed by the
    * lifecycle refresh stage, and a fourth workload did not fit the
    * benchmark's time budget. */
  val corpusPipeline = QueryWorkload("corpus_pipeline",
    Seq(TextQueries, SimQueries, MultimodalQueries),
    Seq("q_dedup_simhash", "q_text_bpe_encode", "q_text_winnow",
      "q_text_lang_id", "q_multimodal_neardup"),
    Seq("q_dedup_components", "q_text_lm_perplexity", "q_graph_pagerank",
      "q_graph_lpa", "q_dedup_fuzzy_join"), passS = 2.6)

  /** The row each query workload's set-up runs first on a fresh session. */
  val warmupRow = "q_surrogate_lookup"

  val queryWorkloads: Seq[QueryWorkload] =
    Seq(warehouseSql, corpusPipeline)

  val all: Seq[String] = queryWorkloads.map(_.name) :+ "lifecycle"

  /** The per-layer metrics that not every workload reports: those of a
    * query workload's rows and artifacts and whether its rows' job counts
    * repeat, or those of the lifecycle stages. */
  def ownLayerMetrics(workload: String): Seq[String] =
    queryWorkloads.find(_.name == workload) match {
      case Some(w) =>
        Seq("spark.unsteady_job_rows") ++
          w.rows.flatMap(n => Seq(s"row.$n.wall_s", s"row.$n.jobs")) ++
          w.artifacts.map(a => s"setup.memo.${a}_s")
      case None =>
        LifecycleRun.Stages.flatMap(s => Seq(s"lifecycle.${s}_s",
          s"lifecycle.$s.bytes_written", s"lifecycle.$s.files_written")) ++
          LifecycleRun.Refreshes.map(r => s"lifecycle.refresh.${r}_s")
    }

  /** Every registered row that no workload times, with the reason. */
  def excluded: Seq[(String, String)] = {
    val timed = queryWorkloads.flatMap(_.rows).toSet
    val inPacks = queryWorkloads.flatMap(_.packs.flatMap(_.queries.keys)).toSet
    SparkEntry.queries.keys.toSeq.sorted.filterNot(timed).map { n =>
      n -> (if (referenceRows.contains(n))
        "reads the reference fixture batch, which is not in the repository"
      else if (inPacks(n)) "outside the per-run time budget of its workload"
      else "its pack has no workload; the lifecycle refresh stage times " +
        "the graph pack's fixpoint operators")
    }
  }
}
