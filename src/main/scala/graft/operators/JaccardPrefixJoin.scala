package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** PPJoin-style LOSSLESS prefix-filtered Jaccard self-join over a
  * (doc_id, s) shingle table: a pair with J >= t must share a shingle
  * inside each doc's first n - ceil(t·n) + 1 shingles under a global
  * order, so candidate enumeration touches ~(1-t) of the index instead
  * of every co-occurring shingle — the fix for the naive join's
  * worst-case quadratic blowup on hot shingles.
  *
  * Cost shape: one extra sort (per-doc shingle ranking) + two candidate
  * joins. At small data the naive co-shingle join wins on constants
  * (see TextQueries.q_dedup_ngram_jaccard, which stays naive as the
  * oracle-checked baseline — MinHash-LSH is the primary scale path);
  * this operator is for corpora where shingle hot spots make the naive
  * join explode. JaccardPrefixSpec proves output equality.
  *
  * Density ceiling: even with the prefix filter the LOSSLESS pair
  * output grows with density² — that is the contract, not a bug — so
  * the join estimates its candidate-pair count from the prefix-token
  * histogram IN-PLAN and refuses above `maxCandidatePairs` with the
  * scale-safe prescription (LshBandJoin candidates / HorizonAgg
  * aggregates), instead of letting a mis-aimed dense-corpus call
  * discover the contract by OOM.
  */
object JaccardPrefixJoin {

  /** ceil(t·n) for t = num/den in pure integer arithmetic. */
  private def ceilFrac(n: Column, num: Int, den: Int): Column =
    expr(s"(n*$num + ${den - 1}) DIV $den")

  /** Default candidate-pair ceiling for [[similarPairs]] — see the
    * refusal below. 50M pairs ≈ a few GB through the verification
    * joins, comfortably inside one job's shuffle budget; corpora
    * whose prefix histogram exceeds it should not be on the lossless
    * path at all.
    */
  val DefaultMaxCandidatePairs: Long = 50L * 1000 * 1000

  /** @param sh        distinct (doc_id, s) shingle table
    * @param orderHash global shingle order (any deterministic hash col fn)
    * @param num/den   threshold t as a fraction (e.g. 4/5 for 0.8)
    * @param maxCandidatePairs loud ceiling on the candidate-pair count,
    *                  ESTIMATED IN-PLAN from the prefix-token histogram
    *                  (Σ_s c_s·(c_s−1)/2 — exact for the candidate join
    *                  before its distinct) before any pair is
    *                  enumerated: the lossless pair output genuinely
    *                  grows with density², so a mis-aimed call on a
    *                  dense corpus must fail by PRESCRIPTION (use
    *                  LshBandJoin candidates or HorizonAgg aggregates),
    *                  not by OOM — the LshBandJoin hot-bucket-cap
    *                  discipline applied to the whole operator
    */
  def similarPairs(sh: DataFrame, orderHash: Column => Column,
                   num: Int, den: Int,
                   maxCandidatePairs: Long = DefaultMaxCandidatePairs)
  : DataFrame = {
    val t = num.toDouble / den
    // released once the docSets cut below has materialized — nothing
    // returned reads it. A caller's own cache entry for the same plan
    // (the CacheManager keys entries by plan) is not ours to drop.
    val owned = sh.storageLevel == StorageLevel.NONE
    val cached = if (owned) sh.persist() else sh
    def release(): Unit = if (owned) cached.unpersist()
    val sizes = cached.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(orderHash(col("s")), col("s"))
    val prefixes = cached.join(sizes, "doc_id")
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= col("n") - ceilFrac(col("n"), num, den) + 1)
      .select(col("doc_id"), col("s"))
    // EXPLICIT-count repartition on the join key: the candidate
    // self-join is CPU-dense (pair enumeration + distinct) but
    // byte-light, so AQE's byte-sized coalescing folds it onto ONE
    // task (measured 2.3 s single-task at sf0.1 — the
    // q_text_retrieval_eval fan-out trap); an explicit count is exempt
    // from coalescing and uses the session's configured shuffle
    // parallelism, not a constant. The join's own exchange moves the
    // same prefix-token bytes either way; AQE skew splitting still
    // applies to the join reads at scale.
    val nPart = sh.sparkSession.sessionState.conf.numShufflePartitions
    // candidates join on the 8-byte xxhash64 of the shingle instead of
    // the shingle string (r21, guide §2.3 "shuffle keys and metadata"):
    // the exchange and the equi-compare move/compare 8 bytes instead of
    // the full n-gram text. A hash collision can only ADD a candidate
    // pair (a superset), never drop one — and the verification below
    // runs on the true shingle sets, so the output is still lossless.
    // Materialized ONCE (r21 resume, guide §2.4): the ceiling guard and
    // BOTH sides of the self-join each re-derived the window-ranked
    // prefix table (three computations per run — profiled as duplicated
    // exchange jobs; AQE stage boundaries defeated exchange reuse). The
    // cut keeps the hash partitioning, so the self-join reads the
    // blocks exchange-free.
    val prefixHashed = graft.plans.Checkpoints.cut(prefixes
      .select(col("doc_id"), xxhash64(col("s")).as("hs"))
      .repartition(nPart, col("hs")))
    // the ceiling: one tiny histogram aggregate (1 driver-side row)
    // over the materialized prefix tokens, grouped by the SAME 8-byte
    // key the candidate join matches on — exact for that join by
    // construction (the shingle-string histogram undercounted
    // hash-collision pairs); pure integer arithmetic
    // (c·(c−1) div 2 per key, BIGINT sum)
    val estRow = prefixHashed.groupBy(col("hs"))
      .agg(count(lit(1)).as("c"))
      .agg(sum(expr("c * (c - 1) DIV 2")).as("pairs"))
      .head()
    val est = if (estRow.isNullAt(0)) 0L else estRow.getLong(0)
    if (est > maxCandidatePairs) {
      release()
      throw new IllegalArgumentException(
        s"JaccardPrefixJoin: the prefix-token histogram implies ~$est " +
          s"candidate pairs (> $maxCandidatePairs) — the lossless pair " +
          "stream grows with density² and this corpus is too dense for " +
          "it; prune candidates with LshBandJoin (near-dup verdicts) or " +
          "compute aggregates with HorizonAgg instead, or raise " +
          "maxCandidatePairs deliberately")
    }
    val cand = prefixHashed.select(col("doc_id").as("doc_a"), col("hs"))
      .join(prefixHashed
          .select(col("doc_id").as("doc_b"), col("hs").as("hs_r")),
        col("hs") === col("hs_r") && col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
      // same trap one stage later: the verification joins are CPU-dense
      // over the byte-light candidate stream, and AQE folded them onto
      // 2 tasks (measured 2.4 s); the explicit count pins the join
      // parallelism (doc_a co-partitions the first verification join)
      .repartition(nPart, col("doc_a"))
    // verification (r21, guide §1.2 per-task work): attach each doc's
    // DISTINCT shingle set as ONE array per side and count the overlap
    // in-expression (array_intersect over the true strings — exact).
    // The old shape joined the candidate stream against the shingle
    // table TWICE and aggregated the |intersection|-row stream per
    // pair: two string-keyed exchanges plus a (doc_a, doc_b) group-by,
    // measured 80 CPU-seconds at sf0.1 where this is one hash
    // intersect per pair. n_a/n_b fall out of the same arrays, so the
    // two size joins go too.
    // materialized ONCE (r21 resume, guide §2.4): the two verification
    // joins each rebuilt this aggregate from the cached shingle table —
    // the rename above the exchange specializes each subtree, so
    // exchange reuse never deduped them (profiled: two identical
    // single-task collect_list jobs per run). One lineage cut, two
    // block reads; it is the last reader of `cached`.
    val docSets = graft.plans.Checkpoints.cut(
      cached.groupBy(col("doc_id"))
        .agg(collect_list(col("s")).as("arr")))
    release()
    cand
      .join(docSets.select(col("doc_id").as("doc_a"),
        col("arr").as("arr_a")), "doc_a")
      .join(docSets.select(col("doc_id").as("doc_b"),
        col("arr").as("arr_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("arr_a"), col("arr_b")))
          .cast(LongType).as("n_common"),
        size(col("arr_a")).cast(LongType).as("n_a"),
        size(col("arr_b")).cast(LongType).as("n_b"))
      .select(col("doc_a"), col("doc_b"),
        (col("n_common").cast(DoubleType)
          / (col("n_a") + col("n_b") - col("n_common"))).as("jaccard"))
      .where(col("jaccard") >= t)
  }
}
