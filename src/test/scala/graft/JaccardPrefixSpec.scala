package graft

import graft.operators.JaccardPrefixJoin
import graft.queries.TextQueries
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The PPJoin prefix-filtered Jaccard join must produce EXACTLY the
  * naive co-shingle join's pairs (the filter is lossless at the
  * threshold) on real document data.
  */
class JaccardPrefixSpec extends AnyFunSuite with SparkTestBase {

  private def h64(c: org.apache.spark.sql.Column) =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  test("prefix-filtered pairs equal naive pairs at t=0.8") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      // the UNCAPPED naive witness — the registered query runs on a
      // bounded slice; the lossless-filter proof needs the full corpus
      val naive = TextQueries.naiveJaccardPairs(spark, dir, None)
        .select("doc_a", "doc_b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val prefixed = JaccardPrefixJoin.similarPairs(
        TextQueries.shingleTable(spark, dir), h64, num = 4, den = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(prefixed === naive, dir)
      assert(naive.nonEmpty, s"$dir produced no pairs — vacuous comparison")
    }
  }

  test("the candidate-pair ceiling refuses a too-dense corpus by prescription") {
    val dir = "/root/testdata/sf0.001"
    val sh = TextQueries.shingleTable(spark, dir)
    // the histogram estimate on this corpus is small but nonzero, so a
    // ceiling of 0 must refuse BEFORE any pair is enumerated, with the
    // LSH/HorizonAgg prescription in the message
    val e = intercept[IllegalArgumentException] {
      JaccardPrefixJoin.similarPairs(sh, h64, num = 4, den = 5,
        maxCandidatePairs = 0L)
    }
    assert(e.getMessage.contains("LshBandJoin")
      && e.getMessage.contains("HorizonAgg"),
      "the refusal must prescribe the scale-safe alternatives")
    assert(e.getMessage.contains("density"),
      "the refusal must name the contract being protected")
    // ...and the default ceiling leaves the green row untouched: same
    // pairs as the uncapped call (the guard is an estimate READ, not a
    // plan change)
    val capped = JaccardPrefixJoin.similarPairs(sh, h64, num = 4, den = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val explicit = JaccardPrefixJoin.similarPairs(sh, h64, num = 4, den = 5,
        maxCandidatePairs = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === explicit && capped.nonEmpty)
  }

  test("similarPairs leaves the session's persisted RDDs and cache entries as it found them") {
    import spark.implicits._
    // docs 1 and 2 are near-duplicates (J = 4/5); doc 3 shares nothing
    val sh = Seq((1L, "a"), (1L, "b"), (1L, "c"), (1L, "d"), (1L, "e"),
        (2L, "a"), (2L, "b"), (2L, "c"), (2L, "d"), (3L, "x"), (3L, "y"))
      .toDF("doc_id", "s")
    val sc = spark.sparkContext
    // lineage cuts (localCheckpoint) also mark their RDDs persisted;
    // those blocks are the returned frame's own and are excluded
    def persisted: Set[Int] = sc.getPersistentRDDs.values
      .filterNot(_.isCheckpointed).map(_.id).toSet
    val before = persisted
    val pairs = JaccardPrefixJoin.similarPairs(sh, h64, num = 4, den = 5)
    assert(pairs.select("doc_a", "doc_b").as[(Long, Long)].collect()
      .toSeq === Seq((1L, 2L)))
    assert((persisted -- before).isEmpty,
      s"similarPairs left persisted RDDs behind: ${persisted -- before}")
    assert(sh.storageLevel === StorageLevel.NONE,
      "similarPairs left a cache entry for its input plan")
    assert(pairs.count() === 1L, "the result must not read the released cache")
    // a caller's own cache entry for the same plan survives the call
    sh.persist()
    try {
      JaccardPrefixJoin.similarPairs(sh, h64, num = 4, den = 5).collect()
      assert(sh.storageLevel !== StorageLevel.NONE,
        "similarPairs dropped the caller's cache entry")
    } finally sh.unpersist()
  }
}
