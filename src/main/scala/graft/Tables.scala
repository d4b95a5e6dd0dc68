package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
import org.apache.spark.sql.Column

/** Parquet table loaders for the driver testdata (TESTDATA.md) plus
  * shared expression helpers used across the query packs.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Scan one testdata table. Plain parquet scan — Catalyst handles
    * column pruning + predicate pushdown from whatever is layered on top.
    */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Parallelism floor for CPU-dense derivations over a SMALL scan —
    * the optimization guide's §2.5 input-skew remedy ("one huge
    * unsplittable file … repartition immediately after the read"): a
    * single-rowgroup parquet file scans as ONE task no matter the
    * split config, so every fused downstream projection (tokenize,
    * explode fan-out, bin derivation) serializes on one core while the
    * rest of the executor idles — measured 1.4-1.5 s single-task
    * stages on q_join_range_binned / q_profile_table at sf0.1. When —
    * and ONLY when — the input bytes cannot pack into at least the
    * session's core count of splits, redistribute by a
    * high-cardinality key right after the read. The gate is the input
    * size, so at production scale (splits >> cores) the branch is
    * provably dead and the read stays plan-identical — never a blanket
    * repartition, which would shuffle the full corpus to move work
    * that already spreads. The EXPLICIT partition count matters: a
    * keyed repartition without one participates in AQE coalescing,
    * which sizes by BYTES and folds a CPU-dense byte-light stage right
    * back onto one task (the q_text_retrieval_eval fan-out
    * measurement).
    *
    * Pushdown contract: the exchange sits above the scan and blocks
    * filter pushdown across it — callers apply scan-level filters
    * BEFORE spreading (or, as in the current call sites, have none).
    */
  def spreadBySize(df: DataFrame, inputBytes: Long,
                   keys: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    val cores = spark.sparkContext.defaultParallelism
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    val splits = math.max(1L, (inputBytes + maxSplit - 1) / maxSplit)
    if (splits >= cores) df
    else df.repartition(cores, keys.map(col): _*)
  }

  /** Total bytes under one testdata table path (file or directory). */
  def tableBytes(spark: SparkSession, dir: String, name: String): Long = {
    val path = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.getContentSummary(path).getLength
  }

  /** [[t]] with the [[spreadBySize]] parallelism floor applied. */
  def tSpread(spark: SparkSession, dir: String, name: String,
              keys: String*): DataFrame =
    spreadBySize(t(spark, dir, name), tableBytes(spark, dir, name), keys)

  /** [[events]] with the [[spreadBySize]] parallelism floor applied. */
  def eventsSpread(spark: SparkSession, dir: String,
                   keys: String*): DataFrame =
    spreadBySize(events(spark, dir), tableBytes(spark, dir, "events"), keys)

  /** events.parquet `ts` encoding has varied across testdata drops:
    * TIMESTAMP(NANOS) (which Spark's vectorized reader rejects — read
    * nanos as long via the legacy conf and convert with integer division;
    * double division would lose precision above 2^53 epoch-nanos) vs
    * native TIMESTAMP(MICROS) (reads as TimestampType directly). Branch
    * on the dtype Spark actually read so both encodings work — a
    * regeneration to micros silently broke every events-derived query
    * when this assumed nanos unconditionally.
    *
    * Session contract, checked and never rewritten here (both confs are
    * session-global): [[Session]] sets `nanosAsLong`, without which
    * Spark itself fails loudly on a NANOS column, and the UTC zone the
    * NTZ->TimestampType cast below needs to preserve instants. A
    * session in any other zone is refused by name.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    // the EFFECTIVE zone (falls back to the JVM default when the conf
    // was never set)
    val zone = spark.sessionState.conf.sessionLocalTimeZone
    require(zone == "UTC", s"Tables.events needs session time zone UTC " +
      s"but the session runs in '$zone'; build it with graft.Session")
    val raw = t(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // isAdjustedToUTC=false parquet reads as NTZ; normalize to the
        // session-zoned TIMESTAMP every downstream consumer (unix_micros,
        // epoch casts) expects — a no-op instant under the UTC session TZ.
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case org.apache.spark.sql.types.TimestampType => raw
      case other =>
        // fail fast: a future encoding (say int64-MICROS) would hit the
        // LongType branch mis-scaled or slip through a blind passthrough
        // as wrong epochs; a named error beats silently wrong data
        throw new IllegalStateException(
          s"events.ts read as unexpected dtype $other — testdata encoding " +
            "changed; extend Tables.events with an explicit branch")
    }
  }
}

/** Cross-engine exact arithmetic.
  *
  * Double summation is order-dependent, and Spark's shuffle order differs
  * from DuckDB's — so a naive `sum(double)` can differ in the last bits
  * and fail the driver's hash compare. Casting to Decimal BEFORE the
  * aggregate makes the sum exact (order-independent); casting the final
  * result back to Double lands on the identical IEEE value in both
  * engines. Mirror each helper in the oracle SQL:
  *   dsum  -> CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)
  *   dsumExpr(s=10) -> CAST(SUM(CAST(expr AS DECIMAL(28,10))) AS DOUBLE)
  *   davg  -> CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE) / COUNT(x)
  */
object Exact {
  /** Exact sum of a 2-decimal monetary/quantity column, as Double. */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast(DoubleType)

  /** 2-decimal money column as exact decimal (input data sits on a
    * 2-decimal grid, so the cast is unambiguous in both engines).
    * Mirror: CAST(x AS DECIMAL(12,2)).
    */
  def money2(c: Column): Column = c.cast(DecimalType(12, 2))

  /** 2-decimal rate factor, e.g. (1 - l_discount).
    * Mirror: CAST(1.0 - l_discount AS DECIMAL(4,2)).
    */
  def rate2(c: Column): Column = c.cast(DecimalType(4, 2))

  /** Exact average: exact decimal sum, then one double division. */
  def davg(c: Column): Column =
    (sum(c.cast(DecimalType(18, 2))).cast(DoubleType) / count(c)).cast(DoubleType)

  /** COUNT(*) with a BIGINT result (matches DuckDB COUNT). */
  def cnt: Column = count(lit(1)).cast(LongType)
}
