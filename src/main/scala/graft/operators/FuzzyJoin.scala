package graft.operators

import graft.plans.Checkpoints.CutOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate string join (entity resolution / record linkage) under
  * an edit-distance bound, via symmetric-delete blocking:
  *
  *   if ed(s, t) <= d then deleting the <= d edited positions from each
  *   side yields a COMMON string reachable by <= d deletions from both —
  *   so joining the deletion neighborhoods N_d(s) and N_d(t) on
  *   equality is a LOSSLESS candidate generator (the SymSpell
  *   observation), and the exact `levenshtein` post-filter only ever
  *   removes rows.
  *
  * Preference order held: the whole operator composes built-in codegen
  * functions — `transform`/`sequence`/`substr` for the neighborhoods,
  * `xxhash64` equi-join for the blocking, `levenshtein` for the exact
  * filter. No UDF, no custom plan node.
  *
  * Scale notes (100 TB):
  *  - Run it on the DISTINCT key frame, not the raw rows: duplicate
  *    keys multiply candidate pairs quadratically, and fuzzy-matching
  *    identical strings is wasted work. Callers re-attach row ids by an
  *    exact equi-join on the matched key afterwards.
  *  - Neighborhood size is O(|s|^d) per string — the method is for
  *    SHORT keys (names, titles, codes; |s| up to ~50 with d=1..2).
  *    For long strings use the n-gram/PPJoin family instead
  *    (graft.operators.JaccardPrefixJoin).
  *  - The blocking join shuffles once on an 8-byte variant hash (hash
  *    collisions only ADD candidates; the exact filter removes them).
  *    Candidate pairs are then distinct-ed (second shuffle) before the
  *    O(|s|·|t|) exact filter runs once per pair.
  *  - Hot variant buckets (many distinct strings sharing one deletion
  *    variant) fan out quadratically; per the IntervalOverlapJoin
  *    discipline the join FAILS LOUDLY via in-plan assert_true when a
  *    bucket exceeds `maxBucket` distinct strings, instead of silently
  *    thinning matches or melting an executor.
  */
object FuzzyJoin {

  /** Buckets above this many distinct strings per deletion variant fail
    * the query loudly. Distinct-name frames hit ~|s| variants per name;
    * genuine hot buckets signal keys too short/duplicated for this
    * blocking scheme.
    */
  val DefaultMaxBucket = 10000

  /** One side's exploded deletion-variant stream: the input rows, each
    * repeated once per variant, keyed by the 8-byte variant hash.
    */
  private def side(df: DataFrame, strCol: String, maxDist: Int): DataFrame =
    df.withColumn("__vh",
      explode(deletionVariants(col(strCol), maxDist)))
      .withColumn("__vh", xxhash64(col("__vh")))

  /** Deletion neighborhood of `s` up to depth `d`: `s` itself plus every
    * string reachable by deleting at most `d` characters. Distinct,
    * computed entirely with codegen collection functions.
    */
  def deletionVariants(s: Column, d: Int): Column = {
    // Deleting from "" yields nothing; a length-1 string deletes to ""
    // — and "" MUST stay in the neighborhood ("a" and "b" meet only at
    // "" under d=1), so the guard is on EMPTY input, not short input.
    def del1(x: Column): Column =
      when(length(x) === 0, array().cast("array<string>"))
        .otherwise(transform(
          sequence(lit(1), length(x)),
          i => concat(x.substr(lit(1), i - 1),
                      x.substr(i + 1, length(x)))))
    var v = array(s)
    (1 to d).foreach { _ =>
      v = array_distinct(concat(v, flatten(transform(v, x => del1(x)))))
    }
    v
  }

  /** Fuzzy inner join of `left` and `right` on
    * `levenshtein(left(leftStr), right(rightStr)) <= maxDist`.
    *
    * Inputs should be slim distinct-key frames (see scale notes); all
    * columns of both sides pass through, plus an IntegerType `dist`.
    * Column names must not collide across the two sides.
    *
    * Caching contract (closed in r17 — no caller discipline needed):
    * each call persists TWO internal variant frames (one per side) so
    * the hot-bucket guard and the blocking join share a single
    * explode/hash pass, then EAGERLY materializes the distinct
    * candidate-pair frame via localCheckpoint and unpersists both
    * variant frames before returning — the returned frame depends only
    * on the checkpointed candidates, so no caller-visible cache entry
    * outlives the call (the checkpoint's blocks are released by the
    * ContextCleaner once the result frame is unreferenced; on a real
    * cluster point the checkpoint at reliable storage). Eager
    * materialization also means the hot-bucket assert fires INSIDE
    * join(), at the call site, not at the caller's first downstream
    * action. The checkpointed candidate frame is bounded by the
    * blocking result — a SUPERSET of the join output (symmetric-delete
    * collisions like "ab"/"ba" and __vh hash collisions survive
    * blocking but die in the levenshtein post-filter), so capacity
    * planning should size for candidates, not matches; the hot-bucket
    * cap is what keeps that superset near the output class.
    */
  def join(left: DataFrame, right: DataFrame,
           leftStr: String, rightStr: String, maxDist: Int,
           maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    val overlap = left.columns.toSet.intersect(right.columns.toSet)
    require(overlap.isEmpty, s"column collision across sides: $overlap")
    val reserved = Set("__vh", "dist", "__rn")
    val clobbered =
      (left.columns.toSet ++ right.columns.toSet).intersect(reserved)
    require(clobbered.isEmpty,
      s"inputs must not contain reserved internal columns: $clobbered")

    // Loud hot-bucket guard: count distinct strings per variant hash on
    // each side; any bucket over the cap fails the query at execution
    // (assert_true), never silently drops candidates. The guard frames
    // aggregate the already-exploded variant stream — one extra
    // count-distinct shuffle each, on data the join shuffles anyway.
    // The exploded frame is persisted so the guard aggregation and the
    // blocking join share one explode/hash pass (same discipline as
    // JaccardPrefixJoin's shingle cache).
    def guarded(df: DataFrame, strCol: String,
                sideName: String): (DataFrame, DataFrame) = {
      val v = side(df, strCol, maxDist).persist()
      val sizes = v.groupBy(col("__vh"))
        .agg(countDistinct(col(strCol)).as("__bsz"))
        .where(coalesce(assert_true(col("__bsz") <= lit(maxBucket),
          concat(lit(s"FuzzyJoin: $sideName variant bucket exceeds " +
            s"maxBucket=$maxBucket distinct strings (key column " +
            s"'$strCol' too hot for symmetric-delete blocking): "),
            col("__bsz").cast("string"))), lit(true)))
        .select(col("__vh"))
      // the persisted frame itself is returned beside the guarded view:
      // unpersist must target the exact plan that was persisted
      (v.join(sizes, "__vh"), v)
    }

    val (lv, lp) = guarded(left, leftStr, "left")
    val (rv, rp) = guarded(right, rightStr, "right")
    try {
      // eager: runs the guard aggregations + blocking join NOW (reading
      // each persisted variant frame once) and pins the candidate pairs,
      // so the variant frames are safe to release in finally
      val cand = lv.join(rv, "__vh")
        .drop("__vh")
        .distinct()
        .cutLineage()
      cand
        .withColumn("dist", levenshtein(col(leftStr), col(rightStr), maxDist))
        .where(col("dist") >= 0 && col("dist") <= maxDist)
    } finally {
      lp.unpersist()
      rp.unpersist()
    }
  }

  /** Best-match form: for every left row, the single right row with the
    * smallest distance (ties broken deterministically on the right key
    * string). The record-linkage deliverable — one row per left key.
    */
  def bestMatch(left: DataFrame, right: DataFrame,
                leftStr: String, rightStr: String, maxDist: Int,
                maxBucket: Int = DefaultMaxBucket): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = join(left, right, leftStr, rightStr, maxDist, maxBucket)
    val w = Window.partitionBy(col(leftStr))
      .orderBy(col("dist"), col(rightStr))
    all.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }
}
