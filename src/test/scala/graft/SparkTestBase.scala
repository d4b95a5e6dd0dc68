package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Suite

/** Shared local session for all suites: the mains' [[Session]] at 4
  * cores (getOrCreate → one JVM-wide session, so suites don't pay
  * repeated startup).
  */
trait SparkTestBase { self: Suite =>
  lazy val spark: SparkSession = Session(4)
}
