package graft

import graft.operators.{GraphInput, Hits, KCore, LabelPropagation, PageRank, Triangles}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Spark jobs per graph refresh on the lifecycle's graph: 140 distinct
  * edges `src{i % 20} -> src{i % 7}` over 20 nodes, read from parquet
  * and de-duplicated as the warehouse refresh reads its edge table.
  * Such a graph passes [[GraphInput]]'s size rule, so each operator
  * pins and guards its input, collects it once and finishes on the
  * driver: at most 5 jobs from the call to the collected result, where
  * the distributed loops ran 9 to 38. The rule's row cap bounds it from
  * above whatever the broadcast threshold.
  */
class GraphJobCountSpec extends AnyFunSuite with SparkTestBase {

  private lazy val edgeDir =
    java.nio.file.Files.createTempDirectory("graph-jobs").toString

  private def edges: DataFrame =
    spark.read.parquet(edgeDir).select(col("src"), col("dst")).distinct()

  /** Jobs from the call of `build` to its collected result. The input
    * frame is built before the count (its parquet schema read is the
    * caller's job).
    */
  private def jobs(build: DataFrame => DataFrame): Int = {
    val input = edges
    jobsIn(build(input).collect())._2
  }

  private val calls: Seq[(String, DataFrame => DataFrame)] = Seq(
    "Hits.run" -> (Hits.run(spark, _, 3)),
    "LabelPropagation.run" -> (LabelPropagation.run(spark, _, 3)),
    "KCore.peel" -> (KCore.peel(spark, _, 2, 64)),
    "KCore.coreNumbers" -> (KCore.coreNumbers(spark, _, 64)),
    "Triangles.localCounts" -> (Triangles.localCounts(spark, _)),
    "PageRank.run" -> (PageRank.run(spark, _, 3)),
    "PageRank.runDanglingRedistributed" ->
      (PageRank.runDanglingRedistributed(spark, _, 3)))

  test("the lifecycle graph's refreshes run at most 5 jobs each") {
    try {
      spark.range(280).select(
          concat(lit("src"), (col("id") % 20).cast("string")).as("src"),
          concat(lit("src"), (col("id") % 7).cast("string")).as("dst"))
        .write.mode("overwrite").parquet(edgeDir)
      assert(edges.count() === 140L)
      val counts = calls.map { case (name, call) =>
        call(edges).collect() // warm: the first call also compiles
        name -> jobs(call)
      }
      info(counts.map { case (c, n) => s"$c=$n" }.mkString(", "))
      counts.foreach { case (name, n) => assert(n <= 5, s"$name ran $n jobs") }
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(edgeDir))
  }

  test("a graph above the row cap stays distributed under any broadcast threshold") {
    // a path of m simple edges over BIGINT ids: 16 bytes an edge, so a
    // 1 GB threshold admits millions; only the row cap stops it
    def path(m: Long) = spark.range(m)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    val cap = GraphInput.DriverMaxEdges
    withBroadcastThreshold("1g") {
      val at = KCore.peel(spark, path(cap), 1, 1)
      assert(finishedOnDriver(at), s"$cap edges must finish on the driver")
      assert(at.count() === cap + 1)
      val above = KCore.peel(spark, path(cap + 1), 1, 1)
      assert(!finishedOnDriver(above), s"${cap + 1} edges must stay distributed")
      assert(above.count() === cap + 2)
    }
  }
}
