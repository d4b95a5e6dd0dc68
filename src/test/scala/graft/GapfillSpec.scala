package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Gap-fill semantics on the events fixture: the grid is complete, an
  * observed hour carries its own aggregate, a gap hour carries the
  * last observed value (flagged), and hours before a type's first
  * observation stay NULL instead of inventing a zero.
  */
class GapfillSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private lazy val rows = graft.queries.EventQueries
    .queries("q_events_gapfill")(spark, dir)
    .as[(String, Long, Option[Long], Boolean)].collect()
    .sortBy(r => (r._1, r._2))

  private lazy val observed: Map[(String, Long), Long] =
    graft.Tables.events(spark, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("h"))
      .agg(sum(expr("CAST(FLOOR(value * 100) AS BIGINT)")).as("cents"))
      .as[(String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap

  test("grid is complete: every type covers every hour exactly once") {
    val types = rows.map(_._1).distinct
    val hours = rows.map(_._2).distinct
    assert(rows.length === types.length * hours.length)
    assert(hours.max - hours.min + 1 === hours.length, "no grid holes")
  }

  test("observed hours carry their own aggregate, unflagged") {
    val byKey = rows.map(r => (r._1, r._2) -> r).toMap
    observed.foreach { case (k, cents) =>
      val r = byKey(k)
      assert(!r._4, s"$k observed but flagged filled")
      assert(r._3.contains(cents), s"$k carries ${r._3}, observed $cents")
    }
  }

  test("gap hours carry the last observed value; leading gaps stay null") {
    rows.groupBy(_._1).foreach { case (tpe, series) =>
      var lastSeen: Option[Long] = None
      series.sortBy(_._2).foreach { r =>
        if (r._4) {
          assert(r._3 === lastSeen,
            s"$tpe@${r._2}: filled row must carry the last observation")
        } else {
          lastSeen = Some(observed((tpe, r._2)))
          assert(r._3 === lastSeen)
        }
      }
    }
    assert(rows.count(_._4) > 0, "fixture must actually have gaps")
  }

  test("events refuses a non-UTC session and leaves its zone unchanged") {
    val other = spark.newSession()
    other.conf.set("spark.sql.session.timeZone", "America/New_York")
    val e = intercept[IllegalArgumentException](graft.Tables.events(other, dir))
    assert(e.getMessage.contains("America/New_York"), e.getMessage)
    assert(e.getMessage.contains("graft.Session"), e.getMessage)
    assert(other.conf.get("spark.sql.session.timeZone") === "America/New_York")
  }
}
