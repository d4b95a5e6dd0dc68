package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.SparkSession

/** One benchmark run's arguments. */
final case class Ctx(seed: Long, seconds: Double,
                     tracer: Option[Tracer], data: String, work: String) {
  val nproc: Int = Runtime.getRuntime.availableProcessors
}

/** Counts operations (rows, lifecycle stages, artifact builds) and keeps
  * the failures by name. */
final class Ops {
  var attempted = 0
  val failures = ArrayBuffer[(String, String)]()

  def apply[T](name: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f) catch { case e: Throwable =>
      failures += name -> Option(e.getMessage).getOrElse(e.toString).take(300)
      None
    }
  }
}

object Harness {
  /** Set-ups after the first; their median is `setup_s`. Each costs up to
    * a pass, and the benchmark's time budget allows two. */
  val WarmSetups = 2

  def seconds(f: => Any): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Passes a run times: its seconds at the workload's warm pass length,
    * and never fewer than five. The count is fixed for given seconds, so
    * the median sits at the same point of the JIT warm-up in every run;
    * on 4 cores the passes after the checking pass still get faster for
    * about ten passes, and with three the median of the graph fixpoint
    * row spread by 26% across seeds. */
  def passes(seconds: Double, passS: Double): Int =
    math.max(5, math.ceil(seconds / passS).toInt)

  /** Passes until the rest stay within 5% of their own median; the count
    * includes the first steady pass. */
  def passesToSteady(walls: Seq[Double]): Int =
    walls.indices.find { i =>
      val rest = walls.drop(i)
      val m = median(rest)
      rest.forall(x => math.abs(x - m) <= 0.05 * m)
    }.getOrElse(walls.size - 1) + 1

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-6))).sum / xs.size)

  /** The session `graft.Bench` builds, with every scratch directory kept
    * inside the run's work directory. */
  def session(c: Ctx): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${c.nproc}]")
      .config("spark.sql.shuffle.partitions", c.nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${c.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.work}/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Sets up once from JVM start, which also creates the SparkContext,
    * and then `WarmSetups` times more; each of those releases every
    * persisted frame and starts a fresh session on the same context, so
    * that work a session memoizes is paid again. `build` does the
    * workload's set-up work on a session; its flag is true for the first
    * set-up. Returns the last session, the seconds from JVM start to the
    * end of the first set-up, and the seconds of each later one. */
  def setup(c: Ctx)(build: (SparkSession, Boolean) => Unit)
      : (SparkSession, Double, Seq[Double]) = {
    var spark = session(c)
    build(spark, true)
    val coldS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val warm = (1 to WarmSetups).map { _ =>
      val t0 = System.nanoTime()
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      spark = spark.newSession()
      build(spark, false)
      (System.nanoTime() - t0) / 1e9
    }
    (spark, coldS, warm)
  }

  /** Memory still held after a full GC: JVM heap in use plus persisted
    * blocks spilled to disk, in MB. */
  def retainedMb(spark: SparkSession): Double = {
    // later collections reclaim what the ContextCleaner releases after
    // the first one; the third reading repeats to within a few MB
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    val disk = spark.sparkContext.getRDDStorageInfo.map(_.diskSize).sum
    (heap + disk) / 1048576.0
  }

  def writeFile(path: String, text: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), text)
  }
}

/** Host counters read from /proc; NaN where the file is missing. */
object Host {
  private def read(path: String): Option[String] =
    Try(new String(Files.readAllBytes(Paths.get(path)))).toOption

  def processCpuS: Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  /** The host's CPU seconds (all cores) spent busy and stolen by the
    * hypervisor, from the first line of /proc/stat. */
  def hostCpuS: (Double, Double) = read("/proc/stat").map { s =>
    val f = s.linesIterator.next().trim.split("\\s+").drop(1).map(_.toDouble)
    // user nice system idle iowait irq softirq steal, in 1/100 s
    ((f.take(7).sum - f(3) - f(4)) / 100.0, f(7) / 100.0)
  }.getOrElse((Double.NaN, Double.NaN))

  def loadAvg1: Double = read("/proc/loadavg")
    .map(_.trim.split("\\s+")(0).toDouble).getOrElse(Double.NaN)

  def openFiles: Double =
    Option(new File("/proc/self/fd").list()).map(_.length.toDouble)
      .getOrElse(Double.NaN)

  def filesUnder(dir: String): Seq[java.nio.file.Path] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Nil
    else {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).toSeq.toList
      finally st.close()
    }
  }
}
