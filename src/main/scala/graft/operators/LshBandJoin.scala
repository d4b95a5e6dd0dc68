package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The LSH candidate-pair primitive shared by every bucketed near-dup /
  * ANN path (MinHash bands over shingles, hyperplane bands over
  * embeddings): group the (id, band_key) table by band key and emit the
  * ordered id pairs within each bucket, then dedup across bands. The
  * band key is the ONLY shuffle key over the big side, so work
  * distributes by bucket at any scale.
  *
  * Plan shape: bucket stats (countDistinct/min — O(1) agg buffers) then
  * a band-key re-join of the same band table (both sides hash on
  * band_key, so the exchange is REUSED — still one logical shuffle of
  * the big side, vs the self-join form's two scans + two shuffle
  * sides). Pair enumeration happens post-shuffle inside codegen
  * (array_sort + slice/transform, no second explode) and ONLY for
  * buckets within the cap, so every per-bucket buffer and the pair
  * fan-out are both bounded by [[DefaultMaxBucket]] — even a
  * degenerate corpus-scale bucket never materializes as one array.
  *
  * Hot-bucket guard: a band key shared by a near-dup-DENSE family (or
  * a degenerate band — e.g. every short doc hashing to the same two
  * minima) re-quadratizes the bucket. Buckets larger than `maxBucket`
  * degrade to STAR enumeration: every member pairs with the bucket's
  * minimum id only (n-1 edges instead of n(n-1)/2), so per-bucket
  * fan-out is linear above the cap while the bucket stays CONNECTED —
  * the candidate graph's connected components (what dedup keep-sets
  * derive from) are exactly those of full enumeration, a graph fact
  * LshBandJoinSpec proves empirically. r12 DROPPED hot buckets instead,
  * arguing oversized-bucket pairs re-meet in other, smaller bands; the
  * r13 recall A/B measured that claim at 10% pair recall on a dense
  * 80-member near-dup family — star degradation replaced the drop. The
  * degradation is deterministic (exact bucket count + min id), so the
  * DuckDB oracles mirror it with the same bound; [[oversizedBuckets]]
  * is the loud counter — pipelines surface it as a QA row (registered
  * as q_dedup_lsh_bucket_profile) because pair-LEVEL candidates above
  * the cap are still reduced (n-1 of n(n-1)/2), even though component-
  * level recall is preserved.
  */
object LshBandJoin {

  /** Buckets above this size degrade to star enumeration (and are
    * reported by [[oversizedBuckets]]). 1024 bounds full-enumeration
    * fan-out at ~524k pairs per bucket — generous for a real near-dup
    * family, tiny for an executor; above it the star keeps fan-out
    * linear in bucket size.
    */
  val DefaultMaxBucket = 1024

  /** (band_key, bucket_n, bucket_min) — countDistinct/min only, so the
    * aggregation buffer is O(1) per bucket even for a degenerate
    * corpus-scale bucket (collect_set would build the whole id array in
    * one executor's agg buffer BEFORE any size filter could drop it).
    */
  private def bucketStats(bands: DataFrame, idCol: String): DataFrame =
    bands.groupBy(col("band_key"))
      .agg(countDistinct(col(idCol)).as("bucket_n"),
        min(col(idCol)).as("bucket_min"))

  /** Ordered-pair enumeration over a SORTED array column, entirely in
    * codegen (array_sort upstream + slice/transform here — no second
    * explode, no self-join): element i pairs with every later element,
    * yielding exactly the a < b pairs as `struct(a, b)`. Shared by the
    * band-bucket pair join and any other grouped pair fan-out (e.g. the
    * source-overlap matrix groups by fingerprint and explodes source
    * pairs with this).
    */
  def orderedPairs(sortedIds: Column): Column =
    flatten(transform(sortedIds, (x, i) =>
      transform(slice(sortedIds, i + lit(2), size(sortedIds)),
        y => struct(x.as("a"), y.as("b")))))

  /** @param bands (id, band_key) rows, one per item per band
    * @param idCol name of the id column in `bands`
    * @param maxBucket hot-bucket cap; buckets with more distinct ids
    *                  degrade to star enumeration (see class doc).
    *                  DELIBERATELY no default: the degradation thins
    *                  pair-level candidates unless the caller also
    *                  surfaces [[oversizedBuckets]], so every call site
    *                  must state its cap (pass [[DefaultMaxBucket]]) and
    *                  own the companion probe.
    * @return distinct (<idCol>_a, <idCol>_b) candidate pairs with a < b
    */
  def candidatePairs(bands: DataFrame, idCol: String,
                     maxBucket: Int): DataFrame = {
    val (a, b) = (s"${idCol}_a", s"${idCol}_b")
    // ONE pass with O(maxBucket) aggregation buffers: the bounded
    // collector (functions/BoundedIdSet) keeps a bucket's distinct ids
    // only while they fit the cap and degrades to (min, saturated)
    // past it — a degenerate corpus-scale bucket can no longer
    // materialize as a single array inside an executor's aggregation
    // buffer, which plain collect_set would do BEFORE any size filter.
    // Small buckets enumerate pairs in-codegen from the sorted array;
    // saturated buckets come back as a (usually EMPTY) list whose
    // star-edge join carries NO broadcast hint on purpose: AQE sees the
    // materialized size at runtime — tiny converts to broadcast, and
    // an adversarial corpus whose saturated-bucket list is itself huge
    // falls back to a shuffle join instead of stalling the driver the
    // way a forced broadcast would. A healthy corpus still pays the
    // bucket shuffle TWICE: the join infers isnotnull(band_key) on the
    // hot side, so that side's bucket exchange no longer matches the
    // small side's, is not reused, and runs as a second, concurrent
    // map stage writing the same bytes.
    val buckets = bands.where(col(idCol).isNotNull)
      .groupBy(col("band_key"))
      .agg(graft.functions.BoundedIdSet.boundedIdSet(maxBucket)(col(idCol))
        .as("bs"))
    val small = buckets.where(!col("bs.saturated") && size(col("bs.ids")) >= 2)
      .select(explode(orderedPairs(col("bs.ids"))).as("p"))
      .select(col("p.a").as(a), col("p.b").as(b))
    val hotList = buckets.where(col("bs.saturated"))
      .select(col("band_key"), col("bs.bucket_min").as("bucket_min"))
    val hot = bands
      .join(hotList, "band_key")
      .where(col(idCol) =!= col("bucket_min"))
      .select(col("bucket_min").as(a), col(idCol).as(b))
    small.unionAll(hot).distinct()
  }

  /** The loud counter for the hot-bucket guard: every band bucket the
    * cap degrades to star enumeration, with its size. Empty on healthy
    * corpora; a QA plane surfaces non-empty results instead of letting
    * the cap silently thin pair-level candidates.
    */
  def oversizedBuckets(bands: DataFrame, idCol: String,
                       maxBucket: Int): DataFrame =
    bucketStats(bands, idCol)
      .select(col("band_key"),
        col("bucket_n").cast("int").as("bucket_size"))
      .where(col("bucket_size") > maxBucket)
}
