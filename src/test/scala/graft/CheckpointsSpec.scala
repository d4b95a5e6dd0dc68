package graft

import graft.plans.Checkpoints
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The lineage-cut seam: default policy is localCheckpoint (the
  * local[32] right answer); with spark.graft.checkpoint.dir set, every
  * cut is a RELIABLE checkpoint into that directory — the cluster
  * fault-tolerance mode (an executor loss recomputes from checkpoint
  * files instead of killing a 13-round fixpoint). The policy must not
  * change any operator's answer.
  */
class CheckpointsSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  // symmetric (both directions) for ConnectedComponents.minLabel
  private def edges = {
    val e = Seq(
      ("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"),
      ("d", "e"), ("e", "f"), ("x", "y")).toDF("src", "dst")
    e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
  }
  private def nodes = edges.select(col("src").as("node")).distinct()

  test("reliable policy: same fixpoint answers, checkpoint files on disk") {
    val defaultAnswer = graft.operators.ConnectedComponents
      .minLabel(nodes, edges).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val coreDefault = graft.operators.KCore
      .coreNumbers(spark, edges, maxRounds = 50).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet

    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    spark.conf.set(Checkpoints.DirConf, dir)
    try {
      val reliable = graft.operators.ConnectedComponents
        .minLabel(nodes, edges).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(reliable === defaultAnswer)
      val coreReliable = graft.operators.KCore
        .coreNumbers(spark, edges, maxRounds = 50).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(coreReliable === coreDefault)
      // the cuts really went to the reliable dir (rdd-* checkpoint
      // subdirs with part files — what an executor loss recovers from)
      def rddDirs(f: java.io.File): Int =
        Option(f.listFiles()).getOrElse(Array.empty).map { c =>
          (if (c.isDirectory) rddDirs(c) else 0) +
            (if (c.getName.startsWith("rdd-")) 1 else 0)
        }.sum
      assert(rddDirs(new java.io.File(dir)) > 0,
        s"no reliable checkpoint data under $dir")
    } finally spark.conf.unset(Checkpoints.DirConf)
  }

  private def rddDirCount(dir: String): Int = {
    def walk(f: java.io.File): Int =
      Option(f.listFiles()).getOrElse(Array.empty).map { c =>
        (if (c.isDirectory) walk(c) else 0) +
          (if (c.getName.startsWith("rdd-")) 1 else 0)
      }.sum
    walk(new java.io.File(dir))
  }

  test("reliable policy: chain GC keeps the dir O(1) across a >=5-round fixpoint") {
    // a 10-node path: min-label needs ~9 propagation rounds — without
    // the Chain GC the dir would hold one rdd-* dir per round (>= 10);
    // with it, the window deletes superseded rounds as the loop runs
    // and sealIfReliable reclaims the rest behind one final frame
    val path = (0 until 9).map(i => (s"n$i", s"n${i + 1}")).toDF("src", "dst")
    val pathSym = path.unionAll(
      path.select(col("dst").as("src"), col("src").as("dst")))
    val pathNodes = pathSym.select(col("src").as("node")).distinct()

    val defaultAnswer = graft.operators.ConnectedComponents
      .minLabel(pathNodes, pathSym).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet

    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_gc").toString
    spark.conf.set(Checkpoints.DirConf, dir)
    try {
      val labels = graft.operators.ConnectedComponents
        .minLabel(pathNodes, pathSym)
      // the sealed result stays readable across repeated actions
      assert(labels.collect().map(r => (r.getString(0), r.getString(1)))
        .toSet === defaultAnswer)
      assert(labels.count() === 10L)
      assert(rddDirCount(dir) === 1,
        s"expected exactly the sealed frame's checkpoint in $dir " +
          s"(rounds reclaimed), found ${rddDirCount(dir)}")

      // the ladder form: pins (per-rung core frames) + window cuts,
      // sealed behind the final union — same O(1) contract. A graph
      // this small finishes on the driver by default, so the
      // distributed ladder is forced here
      val core = onDistributedGraphPath(graft.operators.KCore
        .coreNumbers(spark, pathSym, maxRounds = 50))
      assert(core.count() === 10L)
      assert(rddDirCount(dir) === 2, // minLabel's seal + coreNumbers' seal
        s"expected only the two sealed frames in $dir, found ${rddDirCount(dir)}")
      // the driver path reclaims its pin and returns rows, not files
      assert(graft.operators.KCore
        .coreNumbers(spark, pathSym, maxRounds = 50).count() === 10L)
      assert(rddDirCount(dir) === 2,
        s"the driver path left files in $dir: ${rddDirCount(dir)}")
    } finally {
      spark.conf.unset(Checkpoints.DirConf)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("chain window: mid-loop file count never exceeds keep + pins") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_win").toString
    spark.conf.set(Checkpoints.DirConf, dir)
    try {
      val chain = Checkpoints.chain()
      val pinned = chain.pin(Seq(1, 2, 3).toDF("x")) // survives the window
      var frame = Seq(0).toDF("v")
      (1 to 6).foreach { i =>
        frame = chain.cut(frame.select((col("v") + i).as("v")))
        assert(rddDirCount(dir) <= 3, // 1 pin + keep(2) window
          s"round $i: ${rddDirCount(dir)} checkpoint dirs — the window leaked")
      }
      assert(frame.head().getInt(0) === 21) // the chain computed correctly
      assert(pinned.count() === 3L) // the pin is still readable
      chain.reclaimAll()
      assert(rddDirCount(dir) === 0, "reclaimAll left files behind")
    } finally {
      spark.conf.unset(Checkpoints.DirConf)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("default policy stays local: nothing written to a stale dir conf") {
    // after the unset above, cuts must be local again — a fresh dir
    // configured then unset must stay empty across an operator run
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt2").toString
    graft.operators.ConnectedComponents.minLabel(nodes, edges).collect()
    assert(Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .isEmpty)
  }
}
