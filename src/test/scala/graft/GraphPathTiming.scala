package graft

import graft.operators.{GraphInput, Hits, KCore, LabelPropagation, PageRank, Triangles}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.lang.management.{ManagementFactory, MemoryType}
import scala.jdk.CollectionConverters._

/** Times the six graph entry points on both sides of [[GraphInput]]'s
  * size rule over generated graphs, to place the rule's row cap:
  *
  *   sbt 'Test/runMain graft.GraphPathTiming 2000 20000 100000'
  *
  * Each argument is an edge count m. The graph has m / 7 nodes (the
  * lifecycle graph's mean out-degree), URL-shaped string ids of about
  * 35 bytes, uniform sources and destinations skewed toward low ids
  * (squared uniform), so a few hubs carry most in-edges. It is written
  * to parquet and read back de-duplicated, as the warehouse refresh
  * reads its edge table. Per size, operator and path the line printed
  * holds the median wall time of `GRAPH_TIMING_REPS` calls (default 3,
  * after one warm call) and
  * the driver heap's high-water mark over those calls (the sum of the
  * heap pools' peak usage, reset before the calls, so garbage counts
  * too: an upper bound). The driver path is the session with the
  * broadcast threshold at 1 GB and the row cap lifted; the distributed
  * path is the threshold at -1.
  */
object GraphPathTiming {

  private def graph(spark: SparkSession, m: Long, dir: String): Unit = {
    val n = math.max(20L, m / 7)
    def url(c: org.apache.spark.sql.Column) =
      concat(lit("https://www.host-"), c.cast("string"), lit(".example.org/"))
    spark.range(m).select(
        url(floor(rand(7) * n).cast("long")).as("src"),
        url(floor(pow(rand(11), 2) * n).cast("long")).as("dst"))
      .write.mode("overwrite").parquet(dir)
  }

  private def calls(spark: SparkSession)
  : Seq[(String, DataFrame => DataFrame)] = Seq(
    "hits" -> (Hits.run(spark, _, 3)),
    "lpa" -> (LabelPropagation.run(spark, _, 3)),
    "kcore" -> (KCore.peel(spark, _, 2, 1000)),
    "core_numbers" -> (KCore.coreNumbers(spark, _, 100000)),
    "triangles" -> (Triangles.localCounts(spark, _)),
    "pagerank_dangling" -> (PageRank.runDanglingRedistributed(spark, _, 3)))

  private def heapPeakReset(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).foreach(_.resetPeakUsage())

  private def heapPeakMb: Long =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum >> 20

  def main(args: Array[String]): Unit = {
    val spark = Session(4)
    val reps = sys.env.getOrElse("GRAPH_TIMING_REPS", "3").toInt
    val dir = java.nio.file.Files.createTempDirectory("graph-timing").toString
    val key = "spark.sql.autoBroadcastJoinThreshold"
    try args.map(_.toLong).foreach { m =>
      graph(spark, m, dir)
      val edges = () =>
        spark.read.parquet(dir).select(col("src"), col("dst")).distinct()
      val distinct = edges().count()
      for ((name, call) <- calls(spark); path <- Seq("driver", "distributed")) {
        spark.conf.set(key, if (path == "driver") "1g" else "-1")
        val secs = GraphInput.driverMaxEdges.withValue(Long.MaxValue) {
          call(edges()).collect()
          System.gc()
          heapPeakReset()
          (1 to reps).map { _ =>
            val t0 = System.nanoTime
            call(edges()).collect()
            (System.nanoTime - t0) / 1e9
          }.sorted
        }
        println(f"graph_timing m=$distinct%d op=$name%s path=$path%s " +
          f"median_s=${secs(secs.size / 2)}%.3f heap_peak_mb=$heapPeakMb%d")
      }
    } finally {
      spark.conf.unset(key)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      spark.stop()
    }
  }
}
