package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** [[Tables.t]]'s per-session schema memo: a repeated read of the same
  * files runs no inference job and plans the same relation as a plain
  * `spark.read.parquet`; a changed file set or parquet conf re-infers;
  * a failed read fails exactly as Spark's own and is never memoized.
  */
class ReadSchemaMemoSpec extends AnyFunSuite with SparkTestBase {

  private def withDir(body: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("schema-memo").toFile
    try body(dir.toString)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  private def write(dir: String, name: String, cols: String*): Unit =
    spark.range(10).select(cols.map(expr): _*)
      .write.mode("overwrite").parquet(s"$dir/$name.parquet")

  test("a missing path and a _SUCCESS-only directory fail as Spark's own reads, and stay unmemoized") {
    withDir { dir =>
      for (_ <- 1 to 2) {
        val e = intercept[AnalysisException](Tables.t(spark, dir, "gone"))
        assert(e.getCondition === "PATH_NOT_FOUND", e.getMessage)
      }
      write(dir, "gone", "id")
      assert(Tables.t(spark, dir, "gone").count() === 10L)

      val marker = new java.io.File(s"$dir/empty.parquet/_SUCCESS")
      assert(marker.getParentFile.mkdirs() && marker.createNewFile())
      for (_ <- 1 to 2) {
        val e = intercept[AnalysisException](Tables.t(spark, dir, "empty"))
        assert(e.getMessage.contains("Unable to infer schema"), e.getMessage)
      }
      write(dir, "empty", "id")
      assert(Tables.t(spark, dir, "empty").count() === 10L)
    }
  }

  test("a second read of unchanged files runs no job and plans the same relation") {
    withDir { dir =>
      write(dir, "t", "id", "cast(id AS string) AS s")
      val (_, first) = jobsIn(Tables.t(spark, dir, "t"))
      assert(first >= 1, "the first read infers the schema with a job")
      val (again, second) = jobsIn(Tables.t(spark, dir, "t"))
      assert(second === 0)
      val plain = spark.read.parquet(s"$dir/t.parquet")
      assert(again.schema === plain.schema)
      assert(again.inputFiles.toSeq === plain.inputFiles.toSeq)
      assert(again.queryExecution.analyzed.sameResult(plain.queryExecution.analyzed))
      assert(again.collect().toSet === plain.collect().toSet)
    }
  }

  test("a table rewritten with an extra column is re-inferred") {
    withDir { dir =>
      write(dir, "t", "id")
      Tables.t(spark, dir, "t")
      assert(Tables.t(spark, dir, "t").columns.toSeq === Seq("id"))
      write(dir, "t", "id", "id * 2 AS extra")
      val df = Tables.t(spark, dir, "t")
      assert(df.columns.toSeq === Seq("id", "extra"))
      assert(df.agg(sum("extra")).head().getLong(0) === 90L)
    }
  }

  test("flipping spark.sql.parquet.binaryAsString re-infers") {
    withDir { dir =>
      // an unannotated binary column in a file without Spark's own
      // schema in its footer (which would override binaryAsString)
      val schema = org.apache.parquet.schema.MessageTypeParser
        .parseMessageType("message m { required binary b; }")
      val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(s"$dir/t.parquet/part-0.parquet"))
        .withType(schema).build()
      val rows = new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
      try (0 until 3).foreach(i => writer.write(rows.newGroup().append("b", s"v$i")))
      finally writer.close()

      val key = "spark.sql.parquet.binaryAsString"
      val saved = spark.conf.getOption(key)
      def typeOfB() = jobsIn(Tables.t(spark, dir, "t").schema("b").dataType)
      try {
        spark.conf.set(key, "false")
        assert(typeOfB()._1 === BinaryType)
        assert(typeOfB() === ((BinaryType, 0)))
        spark.conf.set(key, "true")
        val (flipped, n) = typeOfB()
        assert(flipped === StringType)
        assert(n >= 1, "a changed parquet conf must re-infer")
        spark.conf.set(key, "false")
        assert(typeOfB() === ((BinaryType, 0)))
      } finally saved match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }
}
