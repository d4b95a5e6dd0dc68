package graft

import org.apache.spark.sql.SparkSession

/** The one session builder: every main and the test suites run under
  * this conf, so the suites check the planner config the mains ship.
  *
  *  - `local[cores]` with `cores` shuffle partitions;
  *  - UTC session zone: `Tables.events` reads instants through a
  *    zone-less timestamp and requires it;
  *  - `nanosAsLong`: events.parquet may carry TIMESTAMP(NANOS), which
  *    Spark's reader rejects otherwise;
  *  - `canChangeCachedPlanOutputPartitioning`: lets AQE size CACHED
  *    plans by bytes too. Spark's default freezes a cached frame at the
  *    raw shuffle.partitions width, so every re-read of a persisted edge
  *    list or memoized index scans `cores` near-empty partitions per
  *    round at small scale. At production scale AQE keeps the width the
  *    bytes demand, so the setting only ever coalesces what is tiny;
  *  - UI off, Spark logging at WARN.
  */
object Session {

  /** Cores of a main's session: the `SPARK_GRAFT_CPUS` deployment
    * setting, else every core the JVM sees. */
  private def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
