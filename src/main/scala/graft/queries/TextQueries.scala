package graft.queries

import graft.Tables.t
import graft.Exact._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Training-data text operators over `documents`: exact + fuzzy
  * deduplication (MinHash-LSH, SimHash, n-gram Jaccard), text analysis
  * (token stats, quality score, language-ID heuristic, fingerprinting).
  *
  * Hashing discipline: every hash is derived from md5 hex (identical in
  * Spark and DuckDB), converted to BIGINT from a hex-digit prefix —
  * never engine-native hash() (Spark murmur3 != DuckDB's hash). MinHash
  * derives its k-hash family from ONE md5 via linear permutations.
  *
  * Scale notes (100 TB): the shingle explode keeps doc_id with each
  * shingle so every stage is a shuffle on either doc_id or the shingle/
  * band key — no driver-side state. Pairwise Jaccard is quadratic per
  * shared shingle and exists as the verification baseline; MinHash-LSH
  * is the scale path (candidates only from shared LSH bands).
  */
object TextQueries extends QueryPack {

  private def words(c: Column): Column = split(trim(c), "\\s+")

  /** DuckDB-side BPE encode: the delimited base rendering (chars
    * wrapped `|c|`, words joined by `#`) with the committed BpeVocab
    * merges replayed as a replace() chain — replace() is a single
    * forward scan over non-overlapping occurrences, which IS the
    * trainer's greedy left-to-right rewrite, so this expression equals
    * the native BpeEncodeDelim kernel bit-for-bit (BpeEncoderSpec).
    */
  private lazy val bpeOracleEncExpr: String =
    graft.operators.BpeVocab.merges.foldLeft(
      """regexp_replace(regexp_replace(trim(text), '\s+', '#', 'g'),
         '([^#])', '|\1|', 'g')""") { (acc, m) =>
      s"replace($acc, '|${m.l}||${m.r}|', '|${m.l}${m.r}|')"
    }

  /** Fixed context-window budget for sequence packing (tokens per bin). */
  private val PackBin = 2048L

  /** Two-phase sharded prefix sum — the ONE implementation of the
    * no-single-partition running-sum shape (shard = orderCol div 1000,
    * an order-preserving range shard; the `__` prefix is the PlanLint
    * bounded-bucket convention): per-shard window sums plus a running
    * offset over the tiny shard-total table, broadcast back. Used by
    * packFrame (exclusive token offsets), q_sample_pps_systematic
    * (exclusive cumulative-weight axis) and q_text_vocab_growth
    * (inclusive cumulative vocabulary), so a fix to the pattern lands
    * once. `orderCol` must be a non-negative integral column (div on
    * negatives truncates toward zero and would mis-shard).
    */
  private def shardedPrefixSum(df: DataFrame, orderCol: String,
                               valCol: String, out: String,
                               inclusive: Boolean): DataFrame = {
    val frameEnd = if (inclusive) Window.currentRow else -1L
    val wShard = Window.partitionBy(col("__shard")).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, frameEnd)
    val wOff = Window.orderBy(col("__shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withShard = df.withColumn("__shard", expr(s"$orderCol div 1000"))
    val offsets = withShard.groupBy(col("__shard"))
      .agg(sum(col(valCol)).as("__n"))
      .withColumn("__shard_off", coalesce(sum(col("__n")).over(wOff), lit(0L)))
      .select(col("__shard"), col("__shard_off"))
    withShard.join(broadcast(offsets), "__shard")
      .withColumn(out, col("__shard_off") +
        coalesce(sum(col(valCol)).over(wShard), lit(0L)))
      .drop("__shard", "__shard_off")
  }

  /** Sequence packing (concat-and-chunk): each doc's global token
    * offset on the concatenated stream, in deterministic doc_id order,
    * plus the bin range it lands in. The global running offset is
    * computed with NO single-partition window: per-shard exclusive
    * prefix sums (shard = doc_id div 1000, an order-preserving range
    * shard; the `__` prefix is the PlanLint bounded-bucket convention)
    * plus a running offset over the tiny shard-total table, broadcast
    * back — the same two-phase shape as q_surrogate_key_scalable, so
    * packing scales to any corpus. Shared by q_pack_sequences (per-doc
    * face) and q_pack_bins (per-bin manifest face).
    */
  private def packFrame(s: SparkSession, dir: String): DataFrame =
    shardedPrefixSum(
      t(s, dir, "documents").select(col("doc_id"),
        size(words(col("text"))).cast(LongType).as("n_tokens")),
      "doc_id", "n_tokens", "tok_offset", inclusive = false)
      .select(col("doc_id"), col("n_tokens"), col("tok_offset"),
        expr(s"tok_offset div $PackBin").as("first_bin"),
        // greatest(first, last): for n_tokens = 0 at a bin boundary the
        // raw formula yields last_bin < first_bin (both engines' integer
        // division truncates toward zero — verified), and the engines
        // then DIVERGE downstream: Spark's sequence(first, last) counts
        // DOWN and emits a phantom bin row where DuckDB's range() is
        // empty. The guard pins last_bin >= first_bin (a zero-token doc
        // spans exactly its first bin) so parity never depends on the
        // fixture lacking empty documents.
        greatest(expr(s"tok_offset div $PackBin"),
          expr(s"(tok_offset + n_tokens - 1) div $PackBin")).as("last_bin"))

  /** Document-preserving bin packing by LENGTH CLASS (q_pack_bestfit).
    * Trainers that must not split documents (each doc wholly inside one
    * context window) care about padding waste; true first-fit-decreasing
    * is inherently sequential (every placement depends on all previous
    * bins' residuals), so the scalable form is harmonic-style class
    * packing over the length histogram: a doc of ℓ tokens joins class
    * k = B div max(ℓ,1) (the per-bin capacity for that length band),
    * and within each class docs pack k per bin in deterministic doc_id
    * order. Waste bound per non-final bin of class k: fill > k·B/(k+1),
    * i.e. padding < B/(k+1) ≈ ℓ — the classic harmonic guarantee,
    * embarrassingly parallel.
    *
    * Plan shape (100 TB): the per-class row_number is the TWO-PHASE
    * sharded form (within-(class, shard) windows + broadcast offset
    * tables — the shardedPrefixSum discipline; `__` prefix = PlanLint
    * bounded-bucket contract, classes ≤ B, shards are range buckets);
    * the only global window walks the ≤ B-row class table. Docs at or
    * over the bin budget fail LOUDLY with the chunk-first prescription
    * — silently truncating or spilling them would corrupt the packing
    * invariant.
    */
  private def bestfitFrame(s: SparkSession, dir: String): DataFrame = {
    val B = PackBin
    val d = t(s, dir, "documents").select(col("doc_id"),
      size(words(col("text"))).cast(LongType).as("n_tokens"))
      .where(coalesce(assert_true(col("n_tokens") < B,
        concat(lit(s"q_pack_bestfit: document exceeds the $B-token bin " +
          "budget (chunk oversize docs through q_pack_sequences first): " +
          "doc_id="), col("doc_id").cast(StringType))), lit(true)))
    val shard = d
      .withColumn("__k", expr(s"$B div greatest(n_tokens, 1L)"))
      .withColumn("__shard", expr("doc_id div 1000"))
    // phase 1: per-(class, shard) counts → running shard offsets within
    // each class (tiny: classes × shards rows, broadcast back)
    val offs = shard.groupBy(col("__k"), col("__shard"))
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__soff", coalesce(sum(col("__cnt")).over(
        Window.partitionBy(col("__k")).orderBy(col("__shard"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__k"), col("__shard"), col("__soff"))
    // class table: bins used per class → running class bin offsets
    // (≤ B rows — the one global window walks metadata, never docs)
    val cls = shard.groupBy(col("__k")).agg(count(lit(1)).as("__nk"))
      .withColumn("__bins", expr("(__nk + __k - 1) div __k"))
      .withColumn("__koff", coalesce(sum(col("__bins")).over(
        Window.orderBy(col("__k"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__k"), col("__koff"))
    val wIn = Window.partitionBy(col("__k"), col("__shard"))
      .orderBy(col("doc_id"))
    shard.join(broadcast(offs), Seq("__k", "__shard"))
      .join(broadcast(cls), Seq("__k"))
      .withColumn("__rn", col("__soff") + row_number().over(wIn))
      .withColumn("bin", col("__koff") + expr("(__rn - 1) div __k"))
      // token offset inside the bin: earlier docs of the same bin, in
      // pack order — window partitions are ≤ k ≤ B rows each
      .withColumn("offset_in_bin", coalesce(sum(col("n_tokens")).over(
        Window.partitionBy(col("bin")).orderBy(col("__rn"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("doc_id"), col("n_tokens"),
        col("__k").as("per_bin_capacity"), col("bin"), col("offset_in_bin"))
  }

  /** Word n-gram shingles. Guarded: Spark sequence(1,0) counts DOWN, so
    * short docs need an explicit empty-array branch (DuckDB range(1,1)
    * is already empty).
    */
  private def shingles(c: Column, n: Int): Column = {
    val w = words(c)
    when(size(w) >= n,
      transform(sequence(lit(1), size(w) - (n - 1)),
        i => concat_ws(" ", slice(w, i, lit(n)))))
      .otherwise(array())
  }

  /** Distinct word-3-gram shingles per doc: (doc_id, s). */
  private[graft] def shingleTable(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), explode(shingles(col("text"), 3)).as("s"))
      .distinct()

  import graft.functions.TextHashDefaults.MinHashK // 8 hashes, 4 bands of 2
  private val SimHashBits = 32

  /** MinHash via ONE md5 per shingle + k linear permutations
    * h_i = (A_i·h0 + B_i) mod 2^31−1 — 8× cheaper than k independent
    * md5 calls, and exact in 64-bit integer arithmetic on both engines
    * (h0 < 2^36 from 9 hex digits, A_i < 2^23 → products < 2^59).
    */
  // Canonical hash parameters (MinHash family, winnowing scheme) are
  // shared with the SQL function registration — one source of truth.
  import graft.functions.TextHashDefaults.{MinHashA, MinHashB, MinHashP,
    WinB, WinK, WinP, WinW}

  /** MinHash-LSH near-dup candidate pairs (doc_a < doc_b). Signatures
    * come from the native per-row MinHashSignature expression — the only
    * shuffle in the plan is the band-key candidate self-join.
    */
  /** Canonical MinHash signature column (null when < 3 words). Shared
    * with the streaming incremental dedup so band construction cannot
    * drift between the batch index build and the stream probe.
    */
  private[graft] def minhashCol: Column = {
    import graft.functions.TextHashFunctions.minhashSignature
    minhashSignature(words(col("text")), 3, MinHashK, MinHashA, MinHashB, MinHashP)
  }

  /** Band-key array for a minhash signature column (4 bands of 2). */
  private[graft] def bandKeysCol(mh: Column): Column = array(
    (0 until MinHashK / 2).map(b =>
      concat_ws("_", lit(b), element_at(mh, 2 * b + 1),
        element_at(mh, 2 * b + 2))): _*)

  /** Per-(session, SF) memo of the corpus dedup index tables probed by
    * q_dedup_incremental: the distinct content-key index and the
    * distinct LSH band-key index over the EXISTING corpus (doc_id % 10
    * != 0). In production these are persisted warehouse tables
    * maintained batch-over-batch (run/Orchestrator.indexDedupBatch);
    * memoizing + persisting them here models exactly that — the
    * per-query cost is the batch probe, never a corpus re-scan.
    * MEMORY_AND_DISK so cache pressure in a long bench session demotes
    * to local disk instead of silently recomputing the corpus scan.
    */
  private val corpusIdxMemo = new SessionMemo[String, (DataFrame, DataFrame)]()

  private[graft] def corpusDedupIndexes(
      s: SparkSession, dir: String): (DataFrame, DataFrame) =
    corpusIdxMemo.get(s, dir) {
      import org.apache.spark.storage.StorageLevel
      val corpus = t(s, dir, "documents").where(col("doc_id") % 10 =!= 0)
      val keys = corpus.select(textKeyCol.as("text_key")).distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      val bands = corpus.select(minhashCol.as("mh"))
        .where(col("mh").isNotNull)
        .select(explode(bandKeysCol(col("mh"))).as("band_key")).distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      (keys, bands)
    }

  /** Per-(session, SF) memo of the shared dedup frames: the MinHash-LSH
    * candidate-pair frame and the star-contraction component labels
    * derived from it. Production persists both as warehouse tables (the
    * band index via run/Orchestrator.indexDedupBatch; the component
    * table is THE dedup index a pipeline materializes once per corpus
    * snapshot) — memoizing + persisting here models exactly that, the
    * same build-once discipline as SimQueries' trained-centroid memo.
    * Six registered rows consume one or both; un-memoized, the three
    * closure consumers each re-ran the full O(log n)-round contraction
    * (~14 s of the r13 bench total was triplicated closure work).
    *
    * Builds run under a REENTRANT lock (the components build nests the
    * pairs build — computeIfAbsent forbids that nesting). MEMORY_AND_DISK
    * so cache pressure demotes to local disk instead of silently
    * recomputing the corpus scan.
    */
  private val dedupFrameMemo = new SessionMemo[(String, String), DataFrame]()
  private def dedupFrame(s: SparkSession, dir: String, what: String)
                        (build: => DataFrame): DataFrame =
    dedupFrameMemo.get(s, (dir, what)) {
      build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  private def minhashPairs(s: SparkSession, dir: String): DataFrame =
    dedupFrame(s, dir, "pairs") {
      val bands = t(s, dir, "documents")
        .select(col("doc_id"), minhashCol.as("mh"))
        .where(col("mh").isNotNull)
        .select(col("doc_id"), explode(bandKeysCol(col("mh"))).as("band_key"))
      graft.operators.LshBandJoin.candidatePairs(bands, "doc_id",
          graft.operators.LshBandJoin.DefaultMaxBucket)
        .toDF("doc_a", "doc_b")
    }

  /** Transitive closure of the candidate-pair graph by large/small-star
    * contraction — the ONE component table q_dedup_components,
    * q_dedup_cluster_pick and q_split_leakage_safe all consume
    * (identical nodes and edges; building it per-row tripled the most
    * expensive work in the bench). q_dedup_components_minlabel
    * deliberately does NOT use this: it is the independently-derived
    * verification sibling, so it recomputes the closure with the other
    * algorithm every time.
    */
  private def lshComponents(s: SparkSession, dir: String): DataFrame =
    dedupFrame(s, dir, "components") {
      val pairs = minhashPairs(s, dir)
      val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      val nodes = t(s, dir, "documents").select(col("doc_id").as("node"))
      graft.operators.ConnectedComponents.largeSmallStar(nodes, edges)
        .select(col("node").as("doc_id"), col("component"))
    }

  /** Positioned word-8-gram windows (doc_id, i, h) of an arbitrary
    * documents frame — the per-frame body of [[dupWindowPositions]],
    * reused by the incremental face over the batch slice, the
    * Orchestrator's span-index maintenance (indexSpanBatch) and the
    * streaming mark face (StreamingJobs.spanMarkStream) — ONE window
    * definition everywhere, so index, report, removal and stream
    * cannot drift.
    */
  private[graft] def windowPositionsOf(docs: DataFrame): DataFrame = {
    val w = words(col("text"))
    val win = when(size(w) >= 8,
      transform(sequence(lit(1), size(w) - 7),
        i => struct(i.cast(LongType).as("i"),
          conv(substring(md5(concat_ws(" ", slice(w, i, lit(8)))), 1, 15),
            16, 10).cast(LongType).as("h"))))
      .otherwise(array())
    docs
      .select(col("doc_id"), explode(win).as("p"))
      .select(col("doc_id"), col("p.i").as("i"), col("p.h").as("h"))
  }

  private def dupWindowPositions(s: SparkSession, dir: String): DataFrame =
    windowPositionsOf(t(s, dir, "documents"))

  /** Distinct window hashes of the EXISTING corpus (doc_id % 10 != 0) —
    * the persisted window-hash index the incremental span row probes;
    * memoized + persisted like [[corpusDedupIndexes]] (production
    * maintains it batch-over-batch next to the content-key and band
    * indexes).
    */
  private def corpusWindowIndex(s: SparkSession, dir: String): DataFrame =
    dedupFrame(s, dir, "corpus_windows") {
      windowPositionsOf(
        t(s, dir, "documents").where(col("doc_id") % 10 =!= 0))
        .select(col("h")).distinct()
    }

  /** Maximal-span aggregation of marked window positions (doc_id, i):
    * runs of adjacent marked positions merge via the island trick —
    * shared by the span rows and the Orchestrator's table-backed
    * report.
    */
  private[graft] def spanIslands(marked: DataFrame): DataFrame = {
    val grp = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    marked
      .withColumn("grp", col("i") - row_number().over(grp))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("i")).cast(LongType).as("span_start"),
        cnt.as("n_windows"),
        (cnt + 7).as("span_words"))
      .drop("grp")
  }

  /** Corpus-duplicated window positions (doc_id, i) — the MARKED subset
    * of [[dupWindowPositions]] (hash seen at >= 2 positions anywhere).
    * Memoized per (session, SF) in the dedup-frame memo: this IS the
    * span-report artifact a production pipeline persists once and both
    * the report row and the removal row consume; un-memoized, each of
    * the two rows re-ran the full window explode + corpus-wide hash
    * aggregate (~2x the heaviest text work in the bench). The frame is
    * duplicate-mass-sized, far below corpus size.
    */
  private def dupMarkedPositions(s: SparkSession, dir: String): DataFrame =
    dedupFrame(s, dir, "dup_windows") {
      val pos = dupWindowPositions(s, dir)
      val dup = pos.groupBy(col("h")).agg(cnt.as("n_occ"))
        .where(col("n_occ") >= 2).select(col("h"))
      pos.join(dup, Seq("h"), "left_semi")
        .select(col("doc_id"), col("i"))
    }

  /** Shared corpus-gate contract — ONE definition of the thresholds and
    * the content key consumed by the batch cleaning pipeline
    * (q_text_clean_corpus), the exact-dedup query, and the streaming
    * gate (streaming/StreamingJobs.gateDocs), so none of them can
    * drift.
    */
  private[graft] val MinQualityScore = 0.5
  private[graft] def textKeyCol: Column = md5(lower(trim(col("text"))))
  private[graft] def gatePass(quality: Column, langPred: Column): Column =
    quality >= MinQualityScore && langPred =!= "unknown"

  /** PII scrub kernel — ONE definition of the patterns and placeholders
    * consumed by the batch row (q_text_redact_pii) and the streaming
    * scrub (StreamingJobs.scrubDocsStream), so they cannot drift.
    * Patterns stay in the ASCII subset Java regex and DuckDB's RE2
    * parse identically; Spark's regexp_replace replaces all
    * occurrences (the oracle pins 'g').
    */
  private[graft] val PiiEmailRe =
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val PiiPhoneRe = "\\b555-[0-9]{4}\\b"
  private[graft] def piiCountCol(text: Column, re: String): Column =
    size(regexp_extract_all(text, lit(re), lit(0))).cast(LongType)
  private[graft] def redactedPiiCol(text: Column): Column =
    regexp_replace(regexp_replace(text, lit(PiiEmailRe), lit("<EMAIL>")),
      lit(PiiPhoneRe), lit("<PHONE>"))

  /** Quality-gate sub-expressions over `text` — all per-row. Shared
    * with the streaming corpus gate (streaming/StreamingJobs), so the
    * stream and batch paths cannot drift.
    */
  private[graft] def qualityScoreCol: Column = {
    val w = words(col("text"))
    val nTok = size(w).cast(DoubleType)
    val stops = Seq("the", "a", "of", "and", "to", "in")
    val nStop = size(filter(w, x => x.isin(stops: _*))).cast(DoubleType)
    val ttr = size(array_distinct(w)).cast(DoubleType) / size(w)
    val meanWl = (length(col("text")) - (size(w) - 1)).cast(DoubleType) / size(w)
    (least(nTok, lit(100.0)) / lit(100.0)
      + ttr
      + nStop / nTok
      + when(meanWl >= 3.0 && meanWl <= 8.0, 1.0).otherwise(0.0)) / lit(4.0)
  }

  /** Quality-score decile cell for the drift plane. The null branch
    * must be EXPLICIT: least() SKIPS null arguments on both engines, so
    * least(floor(null*10), 10) = 10 would count an unscoreable doc in
    * the TOP-quality decile instead of the dedicated -1 cell.
    */
  private def driftBucketCol: Column = {
    val q = qualityScoreCol
    when(q.isNull, lit(-1L))
      .otherwise(least(floor(q * 10).cast(LongType), lit(10L)))
  }

  /** Frozen per-source decile histogram over a documents frame — the
    * drift gate's corpus model (one (source, bucket) aggregate with
    * map-side combine; |sources| x 12 rows out).
    */
  private[graft] def driftHistogramOf(docs: DataFrame): DataFrame =
    docs.select(col("source"), driftBucketCol.as("bucket"))
      .groupBy(col("source"), col("bucket"))
      .agg(graft.Exact.cnt.as("c"))

  /** Chi-square drift report of a batch against a frozen corpus
    * histogram — ONE definition shared by the batch row
    * (q_qa_drift_chi2) and the streaming per-ingest gate
    * (StreamingJobs.driftGateSink), so verdicts cannot drift. The
    * expected count e = (c+1)·nb/nc (add-one smoothing keeps a
    * batch-only bucket finite) and each term ride ONE pinned double
    * expression tree over exact longs, then floor-quantize to
    * micro-units so the per-source total is an order-free long sum.
    * Chi-square, not PSI/KL: those need ln, which is not
    * correctly-rounded across libm implementations. Scale: one
    * (source, bucket) aggregate over the batch; every window runs over
    * the |sources| x 12 cell grid, never the corpus.
    */
  private[graft] def chi2DriftOf(batch: DataFrame,
                                 corpusCells: DataFrame): DataFrame = {
    val o = batch.select(col("source"), driftBucketCol.as("bucket"))
      .groupBy(col("source"), col("bucket"))
      .agg(graft.Exact.cnt.as("o"))
    // full outer: a cell seen only in the corpus still contributes a
    // term (o=0 against its expectation), and a batch-only cell is the
    // drift signal itself (c=0, smoothed)
    val cells = o.join(corpusCells, Seq("source", "bucket"), "full_outer")
      .select(col("source"), col("bucket"),
        coalesce(col("o"), lit(0L)).as("o"),
        coalesce(col("c"), lit(0L)).as("c"))
    val w = Window.partitionBy(col("source"))
    val tot = cells
      .withColumn("nb", sum(col("o")).over(w))
      .withColumn("nc", sum(col("c")).over(w))
    val e = (col("c") + lit(1L)).cast(DoubleType) *
      col("nb").cast(DoubleType) / col("nc").cast(DoubleType)
    val term = (col("o").cast(DoubleType) - e) *
      (col("o").cast(DoubleType) - e) / e
    // nb = 0 (a source with no batch docs) zeroes e and nc = 0 zeroes
    // its denominator: both leave the term undefined, and ANSI mode
    // (Spark 4 default) turns ANY division by zero into a runtime
    // error — so the guard must cover both totals, not just nc
    tot.select(col("source"), col("bucket"),
        col("o").as("n_batch"), col("c").as("n_corpus"),
        when(col("nc") > 0 && col("nb") > 0,
          floor(term * lit(1000000.0)).cast(LongType)).as("term_micro"))
      .withColumn("chi2_micro", sum(col("term_micro")).over(w))
  }

  /** Gopher-rules frame over an arbitrary documents frame — ONE
    * definition of every rule metric and verdict, shared by the batch
    * row (q_text_gopher_rules) and the streaming gate
    * (StreamingJobs.gopherGateStream), so stream and batch cannot
    * drift. Map-only: works unchanged on a streaming frame.
    */
  private[graft] def gopherFrameOf(docs: DataFrame): DataFrame = {
    val w = words(col("text"))
    val nW = size(w).cast(LongType)
    val meanWl = (length(col("text")) - (size(w) - 1)).cast(DoubleType) /
      size(w)
    val stops = Seq("the", "a", "of", "and", "to", "in")
    val nStop = size(filter(w, x => x.isin(stops: _*))).cast(LongType)
    val nAlpha = size(filter(w, x => x.rlike("[a-zA-Z]"))).cast(LongType)
    val nHash = (length(col("text")) -
      length(regexp_replace(col("text"), lit("#"), lit("")))).cast(LongType)
    docs
      .select(col("doc_id"), nW.as("n_words"), meanWl.as("mean_wl"),
        nStop.as("n_stop"), nAlpha.as("n_alpha"), nHash.as("n_hash"))
      .withColumn("alpha_frac",
        when(col("n_words") > 0,
          col("n_alpha").cast(DoubleType) / col("n_words"))
          .otherwise(lit(0.0)))
      .withColumn("hash_ratio",
        when(col("n_words") > 0,
          col("n_hash").cast(DoubleType) / col("n_words"))
          .otherwise(lit(0.0)))
      .withColumn("r_words",
        col("n_words") >= 50 && col("n_words") <= 100000)
      .withColumn("r_mean_wl", col("mean_wl") >= 3.0 && col("mean_wl") <= 10.0)
      .withColumn("r_alpha", col("alpha_frac") >= 0.8)
      .withColumn("r_stop", col("n_stop") >= 2)
      .withColumn("r_hash", col("hash_ratio") <= 0.1)
      .withColumn("gopher_pass",
        col("r_words") && col("r_mean_wl") && col("r_alpha") &&
          col("r_stop") && col("r_hash"))
  }

  /** Language-ID sub-expressions over a MATERIALIZED padded column
    * (callers compute `padded` in its own projection first so the
    * concat/lower/trim isn't replicated into all twelve regex
    * occurrence counters).
    */
  private def langScoreCols(padded: Column): (Column, Column, Column, Column) = {
    def occ(pat: String): Column =
      ((length(padded) - length(regexp_replace(padded,
        java.util.regex.Pattern.quote(pat), ""))) / pat.length).cast(LongType)
    def profile(pats: Seq[String]): Column = pats.map(occ).reduce(_ + _)
    (profile(Seq(" the ", " a ", " of ")),
      profile(Seq(" der ", " und ", " die ")),
      profile(Seq(" el ", " la ", " de ")),
      profile(Seq(" le ", " et ", " les ")))
  }

  private[graft] def langPredCol(padded: Column): Column = {
    val (en, de, es, fr) = langScoreCols(padded)
    when(en >= greatest(de, es, fr) && en > 0, "en")
      .when(de >= greatest(es, fr) && de > 0, "de")
      .when(es >= fr && es > 0, "es")
      .when(fr > 0, "fr")
      .otherwise("unknown")
  }

  /** Per-doc quality frame (doc_id, source, n_tokens, type_token_ratio,
    * stopword_ratio, mean_word_len, quality_score) — all per-row.
    */
  /** [[qualityFrame]]'s projection over a CALLER-provided docs frame
    * (doc_id, source, text) — so a composition (q_text_clean_corpus)
    * can feed every gate from ONE materialized scan instead of one
    * spread exchange per gate (r21, guide §2.4).
    */
  private def qualityFrameOf(docs: DataFrame): DataFrame = {
    val w = words(col("text"))
    val nTok = size(w).cast(DoubleType)
    val stops = Seq("the", "a", "of", "and", "to", "in")
    val nStop = size(filter(w, x => x.isin(stops: _*))).cast(DoubleType)
    val ttr = size(array_distinct(w)).cast(DoubleType) / size(w)
    val meanWl = (length(col("text")) - (size(w) - 1)).cast(DoubleType) / size(w)
    docs.select(
      col("doc_id"), col("source"),
      nTok.cast(LongType).as("n_tokens"),
      ttr.as("type_token_ratio"),
      (nStop / nTok).as("stopword_ratio"),
      meanWl.as("mean_word_len"),
      qualityScoreCol.as("quality_score"))
  }

  private def qualityFrame(s: SparkSession, dir: String): DataFrame =
    // spread the unsplittable small scan (guide §2.5): the tokenize-heavy
    // quality projection serialized ~0.8 s of CPU on ONE task at sf0.1
    qualityFrameOf(graft.Tables.tSpread(s, dir, "documents", "doc_id"))

  /** [[langFrame]]'s projection over a CALLER-provided docs frame
    * (doc_id, lang, text) — see [[qualityFrameOf]].
    */
  private def langFrameOf(docs: DataFrame): DataFrame = {
    val (en, de, es, fr) = langScoreCols(col("padded"))
    docs
      .withColumn("padded", concat(lit(" "), lower(trim(col("text"))), lit(" ")))
      .select(col("doc_id"), col("lang").as("lang_label"),
        en.as("score_en"), de.as("score_de"), es.as("score_es"), fr.as("score_fr"),
        langPredCol(col("padded")).as("lang_pred"))
  }

  /** Per-doc language-ID frame (doc_id, lang_label, score_*, lang_pred). */
  private def langFrame(s: SparkSession, dir: String): DataFrame =
    // spread the unsplittable small scan (guide §2.5) — the lang-score
    // regex battery is the same CPU-dense single-task shape as the
    // quality projection above
    langFrameOf(graft.Tables.tSpread(s, dir, "documents", "doc_id"))

  /** Bigram-LM scoring frame (doc_id, n_bigrams, sum_nll_micro) —
    * shared by q_text_lm_perplexity (which derives bits_per_bigram)
    * and q_text_ccnet_buckets (which ECDF-buckets it per language).
    * See the q_text_lm_perplexity registration for semantics.
    * Memoized per (session, SF): per-doc perplexity is scored once per
    * corpus snapshot and persisted as a warehouse table in production;
    * both consumers probe it (the dedupFrame build-once discipline —
    * un-memoized, ccnet re-ran the full scoring join every time).
    *
    * 60-bit md5 keys for the unigram (h1) and bigram (hb) identities —
    * the q_text_dup_spans discipline: the stream shuffle ships 8-byte
    * longs, never word strings (r13 measured the string-keyed form as
    * the heaviest linear-ratio row; the key bytes dominated the stream
    * shuffle). words() splits on whitespace, so the space-joined bigram
    * preimage is collision-free by construction; a residual 60-bit md5
    * collision inside the corpus is negligible and the exact oracle
    * gate would catch one.
    */
  private def lmScoreFrame(s: SparkSession, dir: String): DataFrame =
    dedupFrame(s, dir, "lm_scores")(lmScoreFrameUncached(s, dir))

  private def lmScoreFrameUncached(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val w = words(col("text"))
    val bigrams = docs.select(col("doc_id"),
      explode(when(size(w) >= 2,
        transform(sequence(lit(1), size(w) - 1),
          i => struct(element_at(w, i).as("w1"),
            element_at(w, i + 1).as("w2"))))
        .otherwise(array())).as("b"))
      .select(col("doc_id"), md5Long60(col("b.w1")).as("h1"),
        md5Long60(concat_ws(" ", col("b.w1"), col("b.w2"))).as("hb"))
    // h1 rides in the grouping key (functionally dependent on hb) so
    // c1 derives from the distinct-bigram table without re-touching
    // the stream and the groupBy exchange is reusable by the scoring
    // join below (same child, same (h1, hb) partitioning).
    val c2 = bigrams.groupBy(col("h1"), col("hb")).agg(cnt.as("c2"))
    val c1 = c2.groupBy(col("h1")).agg(sum(col("c2")).as("c1"))
    val v = docs.select(explode(w).as("x"))
      .agg(countDistinct(md5Long60(col("x"))).as("v"))
    val nll = floor(log2((col("c1").cast(DoubleType) + col("v")) /
      (col("c2").cast(DoubleType) + lit(1.0))) * lit(1000000.0))
      .cast(LongType)
    // The model is assembled entirely on the DISTINCT-bigram table
    // (c1 and V fold into c2 before any contact with the stream), so
    // the full bigram stream shuffles exactly ONCE — on (h1, hb) for
    // the scoring join. Joining c1 after the stream join would
    // reshuffle the whole stream a second time on h1.
    val model = c2.join(c1, Seq("h1"))
      .crossJoin(broadcast(v)) // 1-row, aggregate-reduced
      .select(col("h1"), col("hb"), nll.as("nll_micro"))
    val sc = bigrams.join(model, Seq("h1", "hb"))
      .groupBy(col("doc_id"))
      .agg(cnt.as("n_bigrams"), sum(col("nll_micro")).as("sum_nll_micro"))
    docs.select(col("doc_id")).join(sc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("sum_nll_micro"), lit(0L)).as("sum_nll_micro"))
  }

  /** Mid-rank ECDF in micro-units over a BOUNDED bucket histogram —
    * the no-corpus-window percentile machinery shared by
    * q_text_quality_calibrated and q_text_ccnet_buckets: the
    * (part, bucket) histogram reduces map-side to a tiny frame, the
    * cumulative window runs over that frame only, and the input joins
    * it BROADCAST — map-only. Integer-exact:
    * pct = (1e6*(2*below+eq+1)) div (2*n) (headroom to ~4.6e12 rows
    * per partition value). `bucket` must be an integral column that
    * orders the same as the metric it quantizes.
    */
  private def ecdfStatsOf(df: DataFrame, part: String,
                          bucket: String): DataFrame = {
    val hist = df.groupBy(col(part), col(bucket)).agg(cnt.as("eq"))
    val wp = Window.partitionBy(col(part)).orderBy(col(bucket))
    hist
      .withColumn("below", sum(col("eq")).over(wp) - col("eq"))
      .withColumn("n_part",
        sum(col("eq")).over(Window.partitionBy(col(part))))
  }

  private def midRankEcdfMicro(df: DataFrame, part: String,
                               bucket: String): DataFrame =
    df.join(broadcast(ecdfStatsOf(df, part, bucket)), Seq(part, bucket))
      .withColumn("pct_rank_micro",
        expr("(1000000 * (2*below + eq + 1)) div (2*n_part)")
          .cast(LongType))
      .drop("eq", "below", "n_part")

  /** FROZEN per-source calibration model for the streaming gate: one
    * row per source with DENSE eq/below arrays over the whole bounded
    * score_milli domain [0, 1000] — so an arriving doc's mid-rank ECDF
    * is exact even for a (source, bucket) the training corpus never
    * produced (eq=0 ⇒ pct = below/n, the left-limit ECDF — an
    * equi-join against the sparse histogram would MISS unseen buckets
    * instead). <=|sources| x 1001 cells collect —
    * metadata-plane at any corpus scale (the domain is bounded, not
    * data-sized).
    */
  private[graft] def calibrationModelFrame(s: SparkSession,
                                           dir: String): DataFrame = {
    import s.implicits._
    val stats = ecdfStatsOf(
      t(s, dir, "documents").select(col("source"),
        floor(qualityScoreCol * lit(1000.0)).cast(LongType)
          .as("score_milli")),
      "source", "score_milli")
      .select(col("source"), col("score_milli"), col("eq"), col("n_part"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    stats.groupBy(_._1).toSeq.map { case (src, rs) =>
      val eq = Array.fill(1001)(0L)
      rs.foreach { case (_, m, e, _) => eq(m.toInt) = e }
      val below = eq.scanLeft(0L)(_ + _).take(1001)
      (src, eq.toSeq, below.toSeq, rs.head._4)
    }.toDF("source", "eq_arr", "below_arr", "n_part")
  }

  /** Map-only calibrated quality scoring of an arbitrary documents
    * frame against a frozen calibration model — the ONE shared builder
    * behind the batch semantics and the streaming gate
    * (StreamingJobs.calibratedGateStream). The model join is
    * stream-static broadcast on `source`; everything after is per-row.
    * Docs from a source the model never saw get a NULL pct and
    * known_source=false (gate policy for novel feeds is the caller's
    * call — silently passing or failing them would both be wrong
    * defaults).
    */
  private[graft] def calibratedScoreFrameOf(docs: DataFrame,
                                            model: DataFrame): DataFrame = {
    val m = floor(qualityScoreCol * lit(1000.0)).cast(LongType)
    docs.select(col("doc_id"), col("source"), m.as("score_milli"))
      .join(broadcast(model), Seq("source"), "left")
      .withColumn("__i", (col("score_milli") + lit(1L)).cast(IntegerType))
      .withColumn("below_m", element_at(col("below_arr"), col("__i")))
      .withColumn("eq_m", element_at(col("eq_arr"), col("__i")))
      .withColumn("pct_rank_micro",
        // seen bucket: the batch row's mid-rank; unseen bucket (eq=0):
        // the plain left-limit ECDF below/n — the mid-rank +1/2 tie
        // correction has no tie to correct and would exceed 100% for a
        // score above everything seen
        when(col("eq_m") > 0L,
          expr("(1000000 * (2*below_m + eq_m + 1)) div (2*n_part)"))
          .otherwise(expr("(1000000 * below_m) div n_part"))
          .cast(LongType))
      .withColumn("known_source", col("n_part").isNotNull)
      // the verdict is NEVER null: an unscorable doc (null text ⇒ null
      // score ⇒ null pct) gets an explicit keep=false quarantine — a
      // null boolean would vanish from BOTH filter(keep) and
      // filter(!keep), the silent loss this gate exists to prevent
      .withColumn("calibrated_keep",
        coalesce(col("known_source") &&
          col("pct_rank_micro") >= lit(200000L), lit(false)))
      .select(col("doc_id"), col("source"), col("score_milli"),
        col("pct_rank_micro"), col("known_source"), col("calibrated_keep"))
  }

  /** `c` without any `ch`: a byte-level `replace`, where `translate`
    * looks up every character of the ~3x-text-length encoding in a map.
    */
  private def dropChar(c: Column, ch: String): Column =
    replace(c, lit(ch), lit(""))

  /** Frozen-vocab BPE encode frame (doc_id, n_tokens, enc_md5) of an
    * arbitrary documents frame — ONE builder shared by the batch row
    * (q_text_bpe_encode) and the streaming face
    * (StreamingJobs.bpeEncodeStream), so the two cannot drift.
    * Map-only through the native BpeEncodeDelim kernel with the
    * committed vocabulary: zero shuffles at any scale or rate.
    */
  private[graft] def bpeEncodeFrameOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        graft.functions.BpeFunctions.bpeEncodeDelim(
          col("text"), graft.operators.BpeVocab.merges).as("enc"))
      .select(col("doc_id"),
        ((length(col("enc")) - length(dropChar(col("enc"), "|")))
          .cast(LongType) / lit(2L)).cast(LongType).as("n_tokens"),
        md5(col("enc")).as("enc_md5"))

  /** DSIR feature-space size (hashed-bigram buckets) — small enough
    * that the frozen model is metadata-plane (<=1024 longs), large
    * enough that the fixture's bigram vocabulary spreads (Xie et al.
    * 2023 use 10k buckets at web scale; the ratio estimator is unbiased
    * at any B, B only trades variance).
    */
  private[graft] val DsirB = 1024L

  private def md5Long60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  /** Hashed-bigram string array of `text` — the DSIR feature bag. */
  private def dsirBigramsCol: Column = {
    val w = words(col("text"))
    when(size(w) >= 2,
      transform(sequence(lit(1), size(w) - 1),
        i => concat_ws(" ", element_at(w, i), element_at(w, i + 1))))
      .otherwise(array().cast(ArrayType(StringType)))
  }

  /** Floor-micro-quantized add-one-smoothed base-2 log likelihood ratio
    * of a bucket (columns ct/cr) under target/raw totals tt/tr — ONE
    * expression shared by the batch model, the frozen-array builder and
    * the specs, so the three cannot drift.
    */
  private def dsirLlrCol(tt: Column, tr: Column): Column =
    floor(log2(
      ((col("ct").cast(DoubleType) + lit(1.0)) /
        (tt.cast(DoubleType) + lit(DsirB.toDouble))) /
      ((col("cr").cast(DoubleType) + lit(1.0)) /
        (tr.cast(DoubleType) + lit(DsirB.toDouble)))) *
      lit(1000000.0)).cast(LongType)

  /** Exploded DSIR feature stream (doc_id, lang, bucket) of an
    * arbitrary documents frame — take the frame AFTER any doc-level
    * prune so a k-doc slice explodes k docs, not the corpus.
    */
  private def dsirFeatsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), explode(dsirBigramsCol).as("bg"))
      .select(col("doc_id"), col("lang"),
        (md5Long60(col("bg")) % DsirB).as("bucket"))

  /** Per-(session, SF) memoized full-corpus DSIR bucket histogram
    * (bucket, ct, cr) — <=DsirB rows; the trained model every DSIR
    * consumer derives from. Production persists this as a warehouse
    * table once per corpus snapshot (it IS the trained model, modulo
    * one tiny projection) — the dedupFrame build-once discipline.
    */
  private def dsirCounts(s: SparkSession, dir: String): DataFrame =
    dedupFrame(s, dir, "dsir_counts") {
      dsirFeatsOf(t(s, dir, "documents"))
        .groupBy(col("bucket")).agg(
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"),
          cnt.as("cr"))
    }

  /** Deterministic Gumbel top-k over the importance weights — the
    * selection half of q_sample_dsir (see that registration).
    */
  private[graft] def dsirTopK(s: SparkSession, dir: String,
                              k: Int): DataFrame = {
    val u = ((md5Long60(concat(lit("dsir:"), col("doc_id")
      .cast(StringType))) % lit(1000000L)).cast(DoubleType) + lit(0.5)) /
      lit(1000000.0)
    val gum = floor(-log2(-log2(u)) * lit(1000000.0)).cast(LongType)
    graft.Tables.tSpread(s, dir, "documents", "doc_id") // guide §2.5
      .select(col("doc_id"), col("lang"))
      .join(dsirWeights(s, dir), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("n_feats"), col("w_micro"),
        (col("w_micro") + gum).as("key_micro"))
      .orderBy(col("key_micro").desc, col("doc_id"))
      .limit(k)
  }

  /** Distributed DSIR per-doc importance weights (doc_id, n_feats,
    * w_micro) — the scoring half of q_sample_dsir (see that
    * registration for the plan/scale notes). Featureless docs (<2
    * words) carry no weight and are absent. Memoized per (session,
    * SF): the weight table is the OTHER once-per-snapshot warehouse
    * artifact (selection, eval and re-draws all probe it; un-memoized,
    * q_sample_dsir_eval re-ran the corpus explode five times — 18.5 s
    * -> probe cost in the r14 bench).
    */
  private[graft] def dsirWeights(s: SparkSession, dir: String): DataFrame =
    dedupFrame(s, dir, "dsir_weights") {
      val counts = dsirCounts(s, dir)
      val tot = counts.agg(sum(col("ct")).as("tt"), sum(col("cr")).as("tr"))
      val model = counts.crossJoin(broadcast(tot)) // 1-row, agg-reduced
        .select(col("bucket"),
          dsirLlrCol(col("tt"), col("tr")).as("llr_micro"))
      dsirFeatsOf(t(s, dir, "documents"))
        .join(broadcast(model), Seq("bucket"))
        .groupBy(col("doc_id"))
        .agg(cnt.as("n_feats"), sum(col("llr_micro")).as("w_micro"))
    }

  /** FROZEN dense DSIR model for the streaming gate: index = bucket,
    * value = llr_micro, absent buckets at the add-one-smoothed default
    * (ct=cr=0). <=DsirB rows collect — metadata-plane at ANY corpus
    * scale (the model size is a constant, not a function of the data).
    * The llr is evaluated by the SAME Spark expression the batch model
    * uses, so frozen-array and join-based weights are bit-identical.
    */
  private[graft] def dsirModelArray(s: SparkSession,
                                    dir: String): Array[Long] = {
    import s.implicits._
    val seen = dsirCounts(s, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val tt = seen.map(_._2).sum
    val tr = seen.map(_._3).sum
    val byB = seen.map(x => x._1 -> (x._2, x._3)).toMap
    (0L until DsirB).map { b =>
      val (ct, cr) = byB.getOrElse(b, (0L, 0L)); (b, ct, cr)
    }.toDF("bucket", "ct", "cr")
      .select(col("bucket"), dsirLlrCol(lit(tt), lit(tr)).as("llr"))
      .collect().sortBy(_.getLong(0)).map(_.getLong(1))
  }

  /** Map-only DSIR scoring of an arbitrary documents frame against a
    * frozen model array — ZERO shuffles (the model rides in the plan as
    * a literal), so it works unchanged on a STREAMING frame: the
    * streaming corpus gate (StreamingJobs.dsirGateStream). Featureless
    * docs score 0 (the batch row drops them — a Gumbel draw needs at
    * least one feature; a gate must emit a verdict for every doc).
    */
  private[graft] def dsirScoreFrameOf(docs: DataFrame,
                                      model: Array[Long]): DataFrame = {
    require(model.length == DsirB.toInt,
      s"DSIR model must cover all $DsirB buckets, got ${model.length}")
    val mlit = typedLit(model.toSeq)
    val bgs = dsirBigramsCol
    docs.select(col("doc_id"),
      size(bgs).cast(LongType).as("n_feats"),
      aggregate(
        transform(bgs, bg => md5Long60(bg) % DsirB),
        lit(0L),
        (acc, b) => acc + element_at(mlit, (b + lit(1L)).cast(IntegerType)))
        .as("w_micro"))
      .withColumn("dsir_keep", col("w_micro") >= lit(0L))
  }

  /** Registered-query input bound for the naive Jaccard baseline: the
    * first 1000 doc_ids (TakeOrdered top-k — constant work at any corpus
    * size), so no query in the library carries an unbounded
    * quadratic-per-shingle join.
    */
  private[graft] val NaiveJaccardCap = 1000

  /** Containment-dedup candidate gate: only shingles with document
    * frequency in [2, this] generate candidate pairs — hot shingles
    * (boilerplate) are excluded, which is both the recall argument
    * (a contained doc needs ONE rare shingle to pair with its
    * container) and the fan-out bound (per-shingle pairs <= df²/2).
    */
  private[graft] val ContainRareDf = 10

  /** Bottom-k size of the containment sketch row. */
  private[graft] val ContainSketchK = 8

  /** Exact containment pairs (doc_a, doc_b, n_shared, n_a, n_b,
    * containment >= 0.8) — shared by the exact row and the bottom-k
    * sketch eval, and memoized per (session, SF) like the other dedup
    * artifacts (the containment verdict table is what a production
    * dedup pipeline persists; un-memoized, the two rows each re-ran the
    * rare-gate candidate join + exact intersection — ~7 s of duplicated
    * bench work at sf0.1). See the q_dedup_containment registration for
    * the candidate-gate and scale rationale.
    */
  private def containmentFrame(s: SparkSession, dir: String): DataFrame =
    dedupFrame(s, dir, "containment")(containmentFrameUncached(s, dir))

  private def containmentFrameUncached(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextHashFunctions.shingleHashes
    val sh = t(s, dir, "documents")
      .select(col("doc_id"), shingleHashes(words(col("text")), 3).as("hs"))
      .select(col("doc_id"), size(col("hs")).cast(LongType).as("n"),
        explode(col("hs")).as("h"))
      .persist() // three consumers: rare filter, candidate join, intersection
    val rare = sh.groupBy(col("h")).agg(cnt.as("df"))
      .where(col("df") >= 2 && col("df") <= ContainRareDf)
      .select(col("h"))
    val rsh = sh.join(rare, Seq("h"), "left_semi")
    val cands = rsh.select(col("doc_id").as("doc_a"), col("h"))
      .join(rsh.select(col("doc_id").as("doc_b"), col("h").as("h_r")),
        col("h") === col("h_r") && col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    val a = sh.select(col("doc_id").as("doc_a"), col("n").as("n_a"), col("h"))
    val b = sh.select(col("doc_id").as("doc_b"), col("n").as("n_b"), col("h"))
    val out = cands.join(a, Seq("doc_a"))
      .join(b, Seq("doc_b", "h"))
      .groupBy(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"))
      .agg(cnt.as("n_shared"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        col("n_a"), col("n_b"),
        (col("n_shared").cast(DoubleType) / least(col("n_a"), col("n_b")))
          .as("containment"))
      .where(col("containment") >= 0.8)
    // eager build (the trainMemo precedent): materialize the (tiny)
    // verdict frame once, then RELEASE the corpus-scale exploded
    // shingle cache — left persisted, sh would pin executor
    // memory/disk for the whole session after its one-time use
    out.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .count()
    sh.unpersist(false)
    out
  }

  /** Naive exact co-shingle Jaccard pairs. `cap` bounds the input to the
    * first n doc_ids (the registered verification slice); None is the
    * uncapped witness JaccardPrefixSpec compares against PPJoin.
    */
  private[graft] def naiveJaccardPairs(s: SparkSession, dir: String,
                                       cap: Option[Int]): DataFrame = {
    import graft.functions.TextHashFunctions.shingleHashes
    val docs0 = t(s, dir, "documents")
    val docs = cap.fold(docs0)(n => docs0.orderBy(col("doc_id")).limit(n))
    val sh = docs
      .select(col("doc_id"), shingleHashes(words(col("text")), 3).as("hs"))
      .select(col("doc_id"), size(col("hs")).as("n"), explode(col("hs")).as("h"))
      .persist() // shared by both join sides; cheaper than re-evaluating
                 // the explode through the broadcast build (measured)
    val l = sh.select(col("doc_id").as("doc_a"), col("n").as("n_a"), col("h"))
    val r = sh.select(col("doc_id").as("doc_b"), col("n").as("n_b"),
      col("h").as("h_r"))
    l.join(r, col("h") === col("h_r") && col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"))
      .agg(cnt.as("n_common"))
      .select(col("doc_a"), col("doc_b"),
        (col("n_common").cast(DoubleType) / (col("n_a") + col("n_b") - col("n_common")))
          .as("jaccard"))
      .where(col("jaccard") >= 0.8)
  }

  /** How decontamination ships the benchmark fingerprint set to the
    * corpus scan: AUTO makes the production pick — count the distinct
    * fingerprints and broadcast them AS ROWS while `rows x FpRowBytes`
    * fits the session's `spark.sql.autoBroadcastJoinThreshold`,
    * otherwise aggregate them into ONE Bloom blob (~10 bits/item) and
    * exact-confirm the map-side survivors. The forced variants pin each
    * shape for the registered rows and the A/B in PLANS.md.
    */
  private[graft] sealed trait DecontamPath
  private[graft] case object DecontamAuto extends DecontamPath
  private[graft] case object DecontamBroadcast extends DecontamPath
  private[graft] case object DecontamBloom extends DecontamPath

  /** Estimated broadcast bytes per benchmark fingerprint row: an 8-byte
    * long plus hashed-relation entry overhead. Deliberately rough — the
    * pick only needs the right order of magnitude, like the stats-based
    * estimates production planners use.
    */
  private[graft] val FpRowBytes = 24L

  /** Fixed query-sample size for the retrieval-eval protocol: the k
    * docs with the smallest md5 sample hash. Pinning |Q| (instead of a
    * %-of-corpus set) keeps the row LINEAR in the corpus — the measured
    * r14 cost was |Q| x candidates ~ corpus^2/10 (13.8x at a 10x data
    * step); with |Q| fixed only the tf aggregate scales.
    */
  private[graft] val RetrievalQuerySample = 256

  /** The DecontamAuto discipline generalized to any small-side frame: an
    * explicit `broadcast()` hint OVERRIDES the session threshold, so a
    * hinted frame that scales with the corpus (e.g. a self-retrieval
    * query set = 10% of it) would stall the driver at 100x data. Hint
    * only while `estRows * estRowBytes` fits the session's
    * autoBroadcastJoinThreshold; above it (or with broadcast disabled)
    * return the frame UNHINTED so the planner falls back to a shuffle
    * join. `estRows` comes from cheap stats (a parquet count-star is
    * metadata-only) — the order-of-magnitude estimate production
    * planners use, not an extra data-plane scan.
    */
  private[graft] def shipAuto(s: SparkSession, df: DataFrame,
                              estRows: Long, estRowBytes: Long): DataFrame = {
    val thr = graft.operators.GraphInput.broadcastThresholdBytes(s)
    if (thr > 0 && estRows * estRowBytes <= thr) broadcast(df) else df
  }

  /** Benchmark decontamination (the pre-training hygiene operator):
    * flag corpus documents whose winnowed fingerprints overlap the
    * evaluation set (doc_id%100==7 stands in for the benchmark) in
    * >= 3 windows. One entry point, two physical strategies — see
    * [[DecontamPath]]; both registered rows and the spec's pick
    * assertions route through here.
    */
  private[graft] def decontaminate(s: SparkSession, dir: String,
                                   path: DecontamPath): DataFrame = {
    import graft.functions.TextHashFunctions.winnowedFingerprints
    import graft.functions.SketchFunctions._
    val fps = t(s, dir, "documents").select(col("doc_id"),
      explode(winnowedFingerprints(col("text"), WinK, WinW, WinB, WinP))
        .as("fp"))
    val bench = fps.where(col("doc_id") % 100 === 7)
      .select(col("fp")).distinct()

    // corpus fps join the BROADCAST benchmark rows: the corpus side
    // shuffles only matching fingerprints
    def broadcastOverlap: DataFrame =
      fps.join(broadcast(bench), "fp")
        .groupBy(col("doc_id")).agg(cnt.as("n_overlap"))

    // benchmark rows never broadcast: ship ONE Bloom blob (the same
    // mechanism as Catalyst's runtime row filters), prefilter the
    // corpus MAP-SIDE, exact-confirm survivors (true hits + ~1% false
    // positives) through a plain shuffle join. `nKnown` avoids a second
    // count when AUTO already measured the set.
    def bloomOverlap(nKnown: Option[Long]): DataFrame = {
      // persisted for the eager consumers (count, blob aggregate) and
      // released before returning — session-lifetime cache residency
      // is not worth sparing the confirm join's one recompute: bench
      // re-derives from the 1% benchmark slice only (the %100 filter
      // precedes the winnow explode), measured 0.66 s at sf0.1 with
      // the recompute vs 0.79 s recorded with the held cache (r9)
      if (nKnown.isEmpty) bench.persist()
      val nBench = nKnown.getOrElse(bench.count())
      // ~10 bits/item, 64 Kbit floor; the collected blob is bits/8
      // bytes of metadata, NOT data-plane rows — the same
      // bounded-collect class as the audit plane
      val blob = bench
        .agg(bloomFilterAgg(col("fp"), math.max(nBench, 1L),
          math.max(nBench * 10L, 65536L)))
        .head.getAs[Array[Byte]](0)
      bench.unpersist()
      val candidates =
        if (blob == null) fps.where(lit(false)) // empty benchmark set
        else fps.where(mightContain(blob, col("fp")))
      candidates.join(bench, "fp")
        .groupBy(col("doc_id")).agg(cnt.as("n_overlap"))
    }

    val overlap = path match {
      case DecontamBroadcast => broadcastOverlap
      case DecontamBloom     => bloomOverlap(nKnown = None)
      case DecontamAuto =>
        bench.persist() // one scan feeds the count and whichever branch wins
        val n = bench.count()
        val thr = graft.operators.GraphInput.broadcastThresholdBytes(s)
        if (thr > 0 && n * FpRowBytes <= thr) {
          bench.unpersist() // broadcast build re-derives it once, lazily
          broadcastOverlap
        } else bloomOverlap(nKnown = Some(n))
    }
    t(s, dir, "documents").select(col("doc_id"))
      .join(overlap, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)) >= 3
          && col("doc_id") % 100 =!= 7).as("is_contaminated"))
  }

  val queries: Map[String, Q] = Map(
    // Exact dedup: canonical row per normalized-text group (md5 key).
    // Generalizes A8 (validate_row.py:172-173) to content dedup.
    "q_dedup_exact" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(textKeyCol.as("text_key"))
        .agg(min(col("doc_id")).as("keep_doc_id"), cnt.as("n_copies"))
    }),

    // n-gram Jaccard near-dup pairs — the exact co-shingle baseline.
    // Quadratic on hot shingles by design, so the registered form runs
    // on a CAPPED verification slice (first 1000 doc_ids — a TakeOrdered
    // top-k, constant work at any corpus size): this query exists to
    // witness the exact semantics, not to scale. MinHash-LSH below is
    // the primary 100 TB path, and operators/JaccardPrefixJoin holds the
    // lossless PPJoin-style prefix-filtered variant for hot-shingle
    // corpora (proved output-equal to the UNCAPPED naive form in
    // JaccardPrefixSpec).
    // Plan shape: per-doc shingling + dedup happen MAP-SIDE in one native
    // pass (functions/TextHashExpressions.scala ShingleHashes — a doc's
    // distinct shingle set is a row-local fact), and the set size rides
    // along each exploded row — so there is no global distinct shuffle
    // and no size-lookup join: just the candidate self-join (off the
    // persisted hash table) and the pair group-by. Shingle identity is
    // the 60-bit md5 prefix: the join moves 8-byte longs instead of
    // ~20-byte strings (collision odds over d distinct shingles
    // ~ d²/2^61 — vanishing, and the exact oracle gate would catch one).
    "q_dedup_ngram_jaccard" -> ((s, dir) =>
      naiveJaccardPairs(s, dir, Some(NaiveJaccardCap))),

    // Containment (asymmetric Jaccard) dedup — superset/quote-inclusion
    // detection: symmetric Jaccard misses a SMALL doc fully contained
    // in a big one (the union denominator dominates), so production
    // dedup also checks C = |A∩B| / min(|A|,|B|) (Broder's containment;
    // the CCNet/RefinedWeb inclusion filters). Candidates pair on RARE
    // shingles (2 <= document frequency <= ContainRareDf): a contained
    // doc shares EVERY shingle with its container, so the pair is found
    // unless all its shingles are corpus-hot — the prefix-filter recall
    // argument — and the per-shingle join fan-out is df-bounded, so hot
    // keys (exactly the excluded ones) cannot blow up the self-join.
    // Exact intersection then runs only over the candidate pairs'
    // shingle sets (candidate-bounded, never all-pairs); shingles ride
    // as 8-byte native-kernel hashes end to end.
    "q_dedup_containment" -> (containmentFrame(_, _)),

    // Bottom-k containment SKETCH beside the exact row — the
    // q_sim_ann_recall A/B discipline applied to containment: for every
    // exact-confirmed pair, the estimate a production bottom-sketch
    // index would serve (Broder's bottom-k: m = |bottom-8(S_small) ∩
    // S_big|, est = m / min(8, |S_small|)) sits next to the exact
    // value, so sketch quality is MEASURED, not assumed. Deterministic
    // on both engines: the 60-bit hashes ARE the uniform order and the
    // native kernel returns them sorted, so bottom-k is a plain slice
    // and the one division is IEEE-identical. At scale the bottom-k
    // column is a 64-byte per-doc index; the eval joins only the
    // candidate pairs' sets.
    "q_dedup_containment_sketch" -> ((s, dir) => {
      import graft.functions.TextHashFunctions.shingleHashes
      val sets = t(s, dir, "documents")
        .select(col("doc_id"), shingleHashes(words(col("text")), 3).as("hs"))
      val a = sets.select(col("doc_id").as("doc_a"), col("hs").as("hs_a"))
      val b = sets.select(col("doc_id").as("doc_b"), col("hs").as("hs_b"))
      val small = when(col("n_a") <= col("n_b"), col("hs_a"))
        .otherwise(col("hs_b"))
      val big = when(col("n_a") <= col("n_b"), col("hs_b"))
        .otherwise(col("hs_a"))
      val m = size(array_intersect(slice(small, 1, ContainSketchK), big))
        .cast(LongType)
      containmentFrame(s, dir).join(a, Seq("doc_a")).join(b, Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("containment"),
          m.as("m_sketch"),
          (m.cast(DoubleType) /
            least(lit(ContainSketchK.toLong), least(col("n_a"), col("n_b"))))
            .as("est_containment"))
    }),

    // MinHash + LSH banding: the 100TB-scale near-dup path. k=8 linear
    // permutations of one md5 base hash, 4 bands of 2 -> candidate pairs
    // sharing any band. The signature comes from the native per-row
    // expression (functions/TextHashExpressions.scala) — shingling, base
    // hash and minima fused in one map-only pass, so the ONLY shuffle in
    // the whole plan is the band-key candidate join (the composed form
    // paid two extra full shuffles of the exploded shingle table).
    "q_dedup_minhash_lsh" -> (minhashPairs(_, _)),

    // MinHash estimate vs exact Jaccard, per candidate pair — the
    // measure-don't-assume row completing the sketch-accuracy family
    // (LSH recall, containment bottom-k, PQ distortion): the signature
    // agreement fraction (the textbook unbiased Jaccard estimator,
    // Broder) sits next to the exact shingle-set Jaccard for every
    // LSH candidate, so the k=8 signature's variance is DATA, not
    // folklore, when tuning k/bands. In-row throughout: signatures and
    // shingle-hash sets ride as per-doc arrays into the (tiny,
    // memoized) candidate-pair join; agreement and intersection are
    // array expressions — no new shuffle class.
    "q_dedup_minhash_est_eval" -> ((s, dir) => {
      import graft.functions.TextHashFunctions.shingleHashes
      val sets = t(s, dir, "documents")
        .select(col("doc_id"), minhashCol.as("mh"),
          shingleHashes(words(col("text")), 3).as("hs"))
      val a = sets.select(col("doc_id").as("doc_a"), col("mh").as("mha"),
        col("hs").as("hsa"))
      val b = sets.select(col("doc_id").as("doc_b"), col("mh").as("mhb"),
        col("hs").as("hsb"))
      val nEq = size(filter(
        zip_with(col("mha"), col("mhb"), (x, y) => x === y), x => x))
      val nCommon = size(array_intersect(col("hsa"), col("hsb")))
      minhashPairs(s, dir).join(a, Seq("doc_a")).join(b, Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          nEq.cast(LongType).as("n_eq_components"),
          (nEq.cast(DoubleType) / lit(MinHashK)).as("est_jaccard"),
          nCommon.cast(LongType).as("n_common"),
          (nCommon.cast(DoubleType) /
            (size(col("hsa")) + size(col("hsb")) - nCommon)).as("jaccard"))
    }),

    // The loud counter for the LSH hot-bucket cap (LshBandJoin class
    // doc): band-bucket-size histogram with the star_degraded flag.
    // Bounded output (one row per distinct bucket size); a production
    // QA plane alerts on any `star_degraded = true` row, because above
    // the cap pair enumeration degrades to the bucket-min star (n-1
    // edges — component-preserving, but pair-level candidates thin).
    // Exercised by the same band table every pair query consumes — the
    // profile and the cap cannot drift.
    "q_dedup_lsh_bucket_profile" -> ((s, dir) => {
      val bands = t(s, dir, "documents")
        .select(col("doc_id"), minhashCol.as("mh"))
        .where(col("mh").isNotNull)
        .select(col("doc_id"), explode(bandKeysCol(col("mh"))).as("band_key"))
      // COUNT(*) == COUNT(DISTINCT doc_id) here: a doc emits each band
      // index once and keys are band-prefixed, so (doc_id, band_key)
      // rows are unique by construction — the plain count saves the
      // distinct aggregate's extra exchange
      bands.groupBy(col("band_key"))
        .agg(cnt.as("bucket_size"))
        .groupBy(col("bucket_size"))
        .agg(cnt.as("n_buckets"))
        .withColumn("star_degraded",
          col("bucket_size") > graft.operators.LshBandJoin.DefaultMaxBucket)
    }),

    // The LOSSLESS scale path for exact-threshold Jaccard: PPJoin-style
    // prefix filtering (operators/JaccardPrefixJoin) — a J >= 0.8 pair
    // must share a shingle in each doc's short prefix under a global
    // hash order, so candidate enumeration touches ~20% of the index
    // instead of every co-occurring shingle. Same oracle as the naive
    // baseline: the filter is provably lossless at the threshold
    // (JaccardPrefixSpec additionally asserts set equality at two SFs).
    "q_dedup_jaccard_ppjoin" -> ((s, dir) => {
      import graft.functions.TextHashFunctions.shingleHashes
      // the same native kernel as the baseline: 8-byte hash keys through
      // every sort/join instead of ~20-byte shingle strings; the hash IS
      // already a uniform global order, so it doubles as the PPJoin
      // prefix order directly
      val sh = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(shingleHashes(words(col("text")), 3)).as("s"))
      graft.operators.JaccardPrefixJoin.similarPairs(
        sh, identity, num = 4, den = 5)
    }),

    // Connected-components dedup: transitive closure of the MinHash-LSH
    // candidate-pair graph. The greedy keep-first policy under-merges
    // chains a~b~c where a~c never shared a band; here every doc gets
    // component = min doc_id reachable, and the component minimum is
    // the canonical survivor. The registered default is the alternating
    // large-star/small-star contraction (Kiveris et al., SoCC 2014,
    // operators/ConnectedComponents.scala): O(log n) shuffle rounds on
    // ANY graph shape, so an adversarial-diameter chain cannot turn the
    // round count linear — the 100 TB-safe choice. Min-label
    // propagation sits beside it as q_dedup_components_minlabel, the
    // independently-derived verification sibling (same oracle: a DuckDB
    // recursive CTE over the identical pair graph).
    "q_dedup_components" -> ((s, dir) =>
      lshComponents(s, dir)
        .select(col("doc_id"), col("component"),
          (col("doc_id") === col("component")).as("keep"))),

    // Canonical-document pick per near-dup cluster: production corpus
    // dedup keeps the BEST document of each transitive near-dup family,
    // not the arbitrary first — composed from the components operator
    // and the shared quality score (one row_number per component,
    // ordered quality DESC with doc_id tiebreak; NULLS LAST pinned on
    // both engines since empty docs score null).
    "q_dedup_cluster_pick" -> ((s, dir) => {
      val comp = lshComponents(s, dir)
      val quality = t(s, dir, "documents")
        .select(col("doc_id"), qualityScoreCol.as("q"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("component"))
        .orderBy(col("q").desc_nulls_last, col("doc_id").asc)
      comp.join(quality, "doc_id")
        .withColumn("rn", row_number().over(w))
        .select(col("doc_id"), col("component"),
          (col("rn") === 1).as("keep_best"))
    }),

    // Same transitive closure through iterative min-label propagation —
    // the independently-derived verification sibling of the registered
    // star-contraction default (one shuffle round per graph-diameter
    // step; near-dup graphs have small diameter, so it is also a fine
    // production choice there, but it is NOT diameter-safe in general).
    // Identical output contract and oracle as q_dedup_components.
    "q_dedup_components_minlabel" -> ((s, dir) => {
      val pairs = minhashPairs(s, dir)
      val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      val nodes = t(s, dir, "documents").select(col("doc_id").as("node"))
      graft.operators.ConnectedComponents.minLabel(nodes, edges)
        .select(col("node").as("doc_id"), col("component"),
          (col("node") === col("component")).as("keep"))
    }),

    // SimHash document fingerprint (32-bit, token multiset, md5-based) —
    // native per-row expression: one fused pass per doc, map-only at any
    // scale (the composed form exploded every token into a 32-column
    // group-by, a full shuffle of the token table).
    "q_dedup_simhash" -> ((s, dir) => {
      import graft.functions.TextHashFunctions.simhash64
      t(s, dir, "documents")
        .select(col("doc_id"),
          simhash64(words(col("text")), SimHashBits).as("simhash"))
    }),

    // Token statistics: whitespace token counts, type-token ratio, and
    // two BPE-ish subword estimates — the chars/4 rule of thumb and a
    // greedy regex segmentation (alpha runs capped at 4 chars, digit
    // runs capped at 3, any other non-space char solo; the ASCII-class
    // pattern scans identically under Java regex and DuckDB's RE2).
    "q_text_token_stats" -> ((s, dir) => {
      val w = words(col("text"))
      t(s, dir, "documents").select(
        col("doc_id"),
        size(w).cast(LongType).as("n_tokens"),
        size(array_distinct(w)).cast(LongType).as("n_distinct_tokens"),
        (size(array_distinct(w)).cast(DoubleType) / size(w)).as("type_token_ratio"),
        length(col("text")).cast(LongType).as("n_chars_obs"),
        ceil(length(col("text")) / lit(4.0)).cast(LongType).as("est_bpe_tokens"),
        size(regexp_extract_all(col("text"),
          lit("[A-Za-z]{1,4}|[0-9]{1,3}|[^A-Za-z0-9\\s]"), lit(0)))
          .cast(LongType).as("n_subword_tokens"))
    }),

    // BPE first-iteration pair statistics — the distributed core of
    // byte-pair-encoding vocabulary training (Sennrich et al. 2016):
    // adjacent character-pair frequencies over the word-frequency
    // table, weighted by word occurrence. This is exactly one step of
    // operators/BpeTrainer.train (which iterates merge-argmax-rewrite
    // on the same table); surfacing step 1 as an oracle row pins the
    // pair-counting semantics the trainer's loop is built on. Scale:
    // the corpus collapses to its DISTINCT-word table in the first
    // map-side-combined aggregate (vocabulary grows ~ Heaps' law, far
    // sublinear in corpus bytes), and every later stage works on that
    // table — the iterative trainer never rescans the corpus.
    // BPE tokenizer APPLICATION with the committed trained vocabulary
    // (operators/BpeVocab — trained once on sf0.01 by BpeTrainer,
    // frozen; BpeEncoderSpec pins provenance): the production encode
    // path of an LLM pipeline. MAP-ONLY at any corpus size — the merge
    // table rides inside the native BpeEncodeDelim expression (no
    // join, no shuffle), and a per-thread Zipf-amortizing word cache
    // makes cost per token ≈ a hash lookup. The delimited rendering
    // ("|th||e|#|cat|") is the cross-engine contract: the oracle
    // replays the same merges as a replace() chain (both sides are
    // single forward scans — provably the same greedy non-overlapping
    // rewrite), and n_tokens/md5 derive from the rendering by pure
    // string ops on both engines.
    "q_text_bpe_encode" -> ((s, dir) =>
      bpeEncodeFrameOf(t(s, dir, "documents"))),

    // Corpus token accounting per source with the SAME frozen vocab —
    // the budgeting face of the encoder (feeds q_sample_token_budget:
    // mixture weights are set in TOKENS, not documents). One map-only
    // encode + one small group-by; chars_per_ktok is integer-quantized
    // (floor of chars·1000/tokens) so the engines agree exactly.
    "q_text_bpe_token_stats" -> ((s, dir) => {
      val enc = graft.functions.BpeFunctions.bpeEncodeDelim(
        col("text"), graft.operators.BpeVocab.merges)
      t(s, dir, "documents")
        .select(col("source"), enc.as("enc"))
        .select(col("source"),
          ((length(col("enc")) - length(dropChar(col("enc"), "|")))
            .cast(LongType) / lit(2L)).cast(LongType).as("toks"),
          length(dropChar(dropChar(col("enc"), "|"), "#"))
            .cast(LongType).as("chs"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("toks")).as("n_tokens"),
          sum(col("chs")).as("n_chars"),
          floor(sum(col("chs")) * lit(1000L) / sum(col("toks")))
            .cast(LongType).as("chars_per_ktok"))
    }),

    "q_text_bpe_pairs" -> ((s, dir) => {
      val wf = t(s, dir, "documents")
        .select(explode(words(col("text"))).as("word"))
        .groupBy(col("word")).agg(cnt.as("freq"))
      wf.where(length(col("word")) >= 2)
        .select(explode(transform(sequence(lit(1), length(col("word")) - 1),
          i => col("word").substr(i, lit(2)))).as("pair"), col("freq"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("n"))
    }),

    // Top-bigram mass — Gopher's other repetition rule (Rae et al.
    // §A1.1: drop docs whose most frequent 2-gram covers too much of
    // the text; q_text_repetition covers duplicate-3-gram MASS, this
    // covers single-phrase domination; threshold corpus-calibrated at
    // 0.10 — this synthetic corpus tops out at ~0.17 where production
    // uses ~0.20 — the q_dedup_embedding calibration precedent, so the
    // flag is non-vacuous). ZERO-SHUFFLE and map-only at any corpus
    // size: the max count comes from the native TopNgramCount kernel
    // (one hash-map pass per row; the composed sort + run-length HOF
    // chain measured ~7x slower — functions/TextHashExpressions.scala),
    // and the one division is guarded (ANSI).
    "q_text_top_ngram_mass" -> ((s, dir) => {
      import graft.functions.TextHashFunctions.topNgramCount
      val w = words(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          greatest(lit(0), size(w) - 1).cast(LongType).as("n_bigrams"),
          topNgramCount(w, 2).as("top_bigram_count"))
        .withColumn("top_bigram_mass",
          when(col("n_bigrams") > 0,
            col("top_bigram_count").cast(DoubleType) / col("n_bigrams"))
            .otherwise(lit(0.0)))
        .withColumn("is_repetitive", col("top_bigram_mass") > 0.10)
    }),

    // Word-distribution Shannon entropy per doc — the Gopher-style
    // "natural language or boilerplate" signal (low-entropy docs are
    // tag soup / template spam; entropy also proxies compression
    // ratio). ZERO-SHUFFLE by design: instead of exploding tokens and
    // re-aggregating per doc (a doc_id shuffle of the whole token
    // stream), each row sorts its own word array, finds run boundaries
    // (s[i] null-safe-!= s[i+1] via the out-of-bounds-null `get`),
    // derives run lengths c_i from consecutive boundary positions, and
    // folds them in-row — O(n log n) per doc, map-only at any corpus
    // size. Cross-engine float discipline: H = log2 n − (Σ c·log2 c)/n
    // is order-dependent as a float sum, so each term is QUANTIZED to
    // integer microbits (floor(c·log2 c·1e6)) and summed in exact long
    // arithmetic; a 1-ulp log2 divergence between engines would need to
    // land within ~1e-10 of a floor boundary to flip a term. One double
    // division at the end.
    "q_text_entropy" -> ((s, dir) => {
      val w0 = words(col("text"))
      val term = (c: Column) =>
        floor(c.cast(DoubleType) * log2(c) * lit(1000000.0)).cast(LongType)
      val base = t(s, dir, "documents")
        .select(col("doc_id"), sort_array(w0).as("s"),
          size(w0).as("n"))
        .withColumn("ends", filter(sequence(lit(1), col("n")),
          i => !(get(col("s"), i - 1) <=> get(col("s"), i))))
        .withColumn("cs", transform(sequence(lit(1), size(col("ends"))),
          j => when(j === 1, element_at(col("ends"), j))
            .otherwise(element_at(col("ends"), j)
              - element_at(col("ends"), j - 1))))
        .withColumn("sum_clogc_micro",
          aggregate(col("cs"), lit(0L), (acc, c) => acc + term(c)))
      base.select(
        col("doc_id"),
        col("n").cast(LongType).as("n_tokens"),
        size(col("cs")).cast(LongType).as("n_distinct_tokens"),
        col("sum_clogc_micro"),
        ((floor(log2(col("n")) * lit(1000000.0)).cast(LongType) * col("n")
          - col("sum_clogc_micro")).cast(DoubleType)
          / (col("n") * lit(1000000.0))).as("entropy_bits"))
        .withColumn("is_low_entropy", col("entropy_bits") < 3.0)
    }),

    // End-to-end classifier-gated quality filtering — the fastText/
    // CCNet "train a linear model, gate the corpus" operator, with the
    // FULL TRAINING RUN inside the oracle contract: three rounds of
    // batch gradient descent (QualityClassifier, rational FastSigmoid
    // link — no transcendentals anywhere, so every weight is
    // IEEE-identical across engines) are unrolled as three CTE layers
    // in the DuckDB oracle, and the learned weights, per-doc logits
    // and gate verdicts all hash-compare. Label: the repetition flag
    // (dup-3-gram fraction > 0.2, same definition as
    // q_text_repetition); features deliberately EXCLUDE that signal
    // (type-token ratio + bounded length), so the model learns a
    // proxy, which is the production shape (label from an expensive
    // signal, inference from cheap ones). Scale: training is
    // iters × one map-side-combined aggregate; scoring is map-only.
    "q_text_quality_classifier" -> ((s, dir) => {
      import graft.functions.TextHashFunctions.shingleHashes
      import graft.operators.QualityClassifier
      val w0 = words(col("text"))
      val nsh = greatest(size(w0) - 2, lit(0))
      val dupFrac = when(nsh === 0, 0.0)
        .otherwise(lit(1.0) -
          size(shingleHashes(w0, 3)).cast(DoubleType) / nsh)
      val feat = t(s, dir, "documents").select(
        col("doc_id"),
        when(dupFrac > 0.2, 1.0).otherwise(0.0).as("y"),
        (size(array_distinct(w0)).cast(DoubleType) / size(w0)).as("f1"),
        (least(size(w0), lit(512)) / lit(512.0)).as("f2"))
      val w = QualityClassifier.train(feat, Seq("f1", "f2"), "y",
        iters = 3, lr = 1.0, link = QualityClassifier.FastSigmoid)
      val z = QualityClassifier.logit(w.toSeq, Seq(col("f1"), col("f2")))
      feat.select(col("doc_id"), col("y").cast(LongType).as("label"),
        lit(w(0)).as("w_b"), lit(w(1)).as("w_f1"), lit(w(2)).as("w_f2"),
        floor(z * lit(1000000.0)).cast(LongType).as("logit_micro"),
        (z > 0).as("pred"))
    }),

    // Bigram-LM perplexity scoring — the CCNet/KenLM-style quality
    // filter: train an add-one-smoothed bigram language model on the
    // corpus (counts only), score every doc by its average bits per
    // bigram under that model. High-perplexity docs are noise/garble;
    // the signal complements q_text_entropy (which sees only the doc's
    // OWN distribution — a doc of valid-but-shuffled words has normal
    // entropy and high LM perplexity). Cross-engine float discipline:
    // each bigram's NLL is floor-quantized to integer microbits
    // (p is the exact rational (c2+1)/(c1+V), one double division +
    // log2 per DISTINCT bigram), per-doc sums are exact long
    // arithmetic, one double division at the end. Scale: the corpus
    // collapses to its distinct-bigram table for training (Heaps-law
    // sublinear); scoring joins ride the (w1,w2) key the count
    // aggregate already partitioned by (exchange reuse), then one
    // doc_id aggregate. V is a 1-row aggregate, broadcast.
    "q_text_lm_perplexity" -> ((s, dir) => lmScoreFrame(s, dir)
      .select(col("doc_id"), col("n_bigrams"), col("sum_nll_micro"),
        when(col("n_bigrams") === 0L, lit(0.0))
          .otherwise(col("sum_nll_micro").cast(DoubleType) /
            (col("n_bigrams") * lit(1000000.0)))
          .as("bits_per_bigram"))
      .withColumn("is_high_ppl", col("bits_per_bigram") > 5.0)),

    // Repeated-n-gram (duplicate-mass) profile — the span-level dedup
    // signal of Lee et al. 2021 ("Deduplicating Training Data Makes
    // Language Models Better", arXiv:2107.06499): for each doc, how
    // many of its distinct word-8-grams occur in at least one OTHER
    // doc, and the duplicate-mass ratio. Doc-level dedup (exact /
    // MinHash) misses partially-copied spans; this surfaces them, and
    // on the fixture it cleanly separates the planted near-dup
    // families (47/500 docs carry repeats at sf0.01) from clean docs.
    // Plan: per-doc distinct shingling is map-side; ONE shuffle on the
    // n-gram key for the cross-doc count, one broadcast-side join back,
    // one doc-keyed aggregate. At 100 TB the n-gram key join moves
    // 8-byte hashes via the native ShingleHashes kernel
    // (q_dedup_ngram_jaccard's discipline); strings here keep the
    // oracle byte-exact at fixture scale.
    "q_text_repeated_ngrams" -> ((s, dir) => {
      // the native kernel emits per-doc DISTINCT 60-bit shingle hashes
      // in one row pass, so (a) the explicit corpus-wide distinct
      // shuffle the string form needed is GONE (per-doc dedup is the
      // semantics — the old (doc_id, s).distinct() never deduped across
      // docs anyway), and (b) every remaining shuffle ships 8-byte
      // longs instead of ~50-byte 8-gram strings. Counts equal the
      // string oracle's modulo md5-prefix collisions (~d²/2^61 — the
      // q_text_dup_spans argument).
      import graft.functions.TextHashFunctions.shingleHashes
      // spread the unsplittable small scan (guide §2.5): the shingle
      // kernel pass serialized on one task at sf0.1
      val sh = graft.Tables.tSpread(s, dir, "documents", "doc_id")
        .select(col("doc_id"),
          explode(shingleHashes(words(col("text")), 8)).as("s"))
      val rep = sh.groupBy(col("s")).agg(cnt.as("n_docs"))
        .where(col("n_docs") >= 2)
        .select(col("s"), lit(1L).as("__rep"))
      sh.join(rep, Seq("s"), "left")
        .groupBy(col("doc_id"))
        .agg(cnt.as("n_ngrams"),
          sum(coalesce(col("__rep"), lit(0L))).as("n_repeated"),
          (sum(coalesce(col("__rep"), lit(0L))).cast(DoubleType)
            / count(lit(1))).as("dup_ratio"))
    }),

    // Duplicated-SPAN extraction — the suffix-array substring dedup of
    // Lee et al. 2021 (arXiv:2107.06499 §4) re-expressed relationally:
    // where q_text_repeated_ngrams reports per-doc duplicate MASS, this
    // returns the actual maximal duplicated spans (start + extent), the
    // rows a span-removal pass would cut. Positioned word-8-gram
    // windows (doc_id, i, h) are hashed to 60-bit md5 keys; a window
    // duplicated ANYWHERE in the corpus (>= 2 positions, same-doc
    // repeats included — self-repetition is duplication too) marks its
    // position, and runs of adjacent marked positions merge into
    // maximal spans with the island trick (i - row_number is constant
    // on a run). Scale: windows ship as 8-byte hashes, never strings;
    // one hash-keyed aggregate, one hash-keyed semi-join back, one
    // doc-keyed window — every stage is a key shuffle with map-side
    // combine, no driver state, same discipline as LshBandJoin. A 1-ulp
    // hash collision merging unrelated windows needs a 60-bit md5
    // collision inside the corpus — negligible at any target scale.
    "q_text_dup_spans" -> ((s, dir) =>
      spanIslands(dupMarkedPositions(s, dir))),

    // Duplicated-span REMOVAL — the cleanup pass the span report above
    // feeds (Lee et al. 2021 §4 actually CUTS the duplicated
    // substrings; the report row only locates them): every token
    // covered by ANY corpus-duplicated 8-gram window is dropped and
    // the survivors re-join in order. Same window marking as
    // q_text_dup_spans (one shared builder, so report and removal
    // cannot drift). Plan: the marked windows explode into their 8
    // covered positions (8x the MARKED windows — duplicate mass, not
    // corpus mass), one (doc_id, pos) anti-join drops covered tokens,
    // and one doc-keyed aggregate rebuilds the text via an in-row sort
    // of (pos, token) structs — per-doc state bounded by doc length,
    // the floor for any text rewrite. Every shuffle is a key shuffle
    // with map-side combine; no driver state.
    "q_text_strip_dup_spans" -> ((s, dir) => {
      val covered = dupMarkedPositions(s, dir)
        .select(col("doc_id"),
          explode(sequence(col("i"), col("i") + 7)).as("i"))
        .distinct()
      val toks = graft.Tables.tSpread(s, dir, "documents", "doc_id") // guide §2.5
        .select(col("doc_id"), posexplode(words(col("text"))).as(Seq("p0", "tok")))
        .select(col("doc_id"), (col("p0") + 1).cast(LongType).as("i"),
          col("tok"))
      val kept = toks.join(covered, Seq("doc_id", "i"), "left_anti")
        .groupBy(col("doc_id"))
        .agg(cnt.as("n_kept_tokens"),
          concat_ws(" ",
            transform(array_sort(collect_list(struct(col("i"), col("tok")))),
              x => x.getField("tok"))).as("clean_text"))
      t(s, dir, "documents").select(col("doc_id"))
        .join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("clean_text"), lit("")).as("clean_text"),
          coalesce(col("n_kept_tokens"), lit(0L)).as("n_kept_tokens"))
    }),

    // Incremental duplicated-span detection — the daily-ingest face of
    // q_text_dup_spans (the q_dedup_incremental discipline): a NEW
    // batch (doc_id % 10 == 0) is span-checked against the EXISTING
    // corpus's persisted window-hash index plus its own internal
    // repeats, without ever re-scanning corpus windows. A batch window
    // is duplicated iff its hash is in the corpus index OR occurs >= 2
    // times within the batch — exactly the full-corpus >= 2 rule
    // restricted to batch docs, so incremental and full answers agree
    // on the shared rows by construction. Cost scales with the BATCH:
    // one batch window explode, one semi-join against the index, one
    // batch-internal count, one per-doc island window.
    "q_text_dup_spans_incremental" -> ((s, dir) => {
      val pos = windowPositionsOf(
        t(s, dir, "documents").where(col("doc_id") % 10 === 0))
      val inCorpus = pos.join(corpusWindowIndex(s, dir), Seq("h"), "left_semi")
        .select(col("doc_id"), col("i"))
      val batchDup = pos.groupBy(col("h")).agg(cnt.as("n"))
        .where(col("n") >= 2).select(col("h"))
      val inBatch = pos.join(batchDup, Seq("h"), "left_semi")
        .select(col("doc_id"), col("i"))
      spanIslands(inCorpus.unionAll(inBatch).distinct())
    }),

    // Quality score: bounded token count, lexical diversity, stopword
    // ratio, mean word length band — equal-weight average.
    "q_text_quality" -> (qualityFrame(_, _)),

    // Cross-source quality-score calibration: a fixed GLOBAL threshold
    // on the raw quality score keeps a different fraction of each
    // source (sources differ in length/style priors), so raw-score
    // gating silently reweights the source mixture. Calibration maps
    // each doc's score to its within-source mid-rank ECDF — uniform on
    // [0,1] per source — so one global percentile cut keeps the same
    // share of every source (per-source quantile normalization, the
    // classifier-mixing discipline when scores come from per-source
    // models). Plan/scale: scores milli-quantize to <=1001 buckets, so
    // the histogram aggregate reduces map-side to (sources x 1001)
    // rows; the cumulative window runs over that TINY frame
    // (partitioned by source); the corpus then joins the histogram
    // BROADCAST on (source, bucket) — map-only, no corpus-sized window
    // anywhere. Integer-exact past the (already cross-engine-pinned)
    // score expression: ECDF = (1e6*(2*below+eq+1)) div (2*n) in long
    // arithmetic (headroom to n_source ~ 4.6e12 docs per source).
    "q_text_quality_calibrated" -> ((s, dir) => {
      val scores = t(s, dir, "documents").select(
        col("doc_id"), col("source"),
        floor(qualityScoreCol * lit(1000.0)).cast(LongType).as("score_milli"))
      midRankEcdfMicro(scores, "source", "score_milli")
        .select(col("doc_id"), col("source"), col("score_milli"),
          col("pct_rank_micro"))
        .withColumn("calibrated_keep", col("pct_rank_micro") >= lit(200000L))
    }),

    // CCNet-style perplexity bucketing (Wenzek et al. 2020, "CCNet:
    // Extracting High Quality Monolingual Datasets from Web Crawl
    // Data", arXiv:1911.00359 §4.4): split the corpus per LANGUAGE
    // into head/middle/tail thirds by LM perplexity — head (lowest
    // perplexity) feeds high-quality training mixes, tail is
    // noise-audit material. Thresholds are per-language BY DESIGN
    // (absolute perplexity is not comparable across languages — the
    // same argument as q_text_quality_calibrated's per-source ECDF).
    // Composition: the shared bigram-LM scoring frame (ONE corpus
    // stream shuffle) + the shared bounded-histogram mid-rank ECDF
    // (map-only after a tiny broadcast); the tercile label is integer
    // algebra on pct_rank_micro. bits_milli = sum_nll div (n*1000) is
    // an exact integer quantization of bits_per_bigram (same ordering;
    // <=~30k buckets per language at any corpus size).
    "q_text_ccnet_buckets" -> ((s, dir) => {
      val scored = t(s, dir, "documents").select(col("doc_id"), col("lang"))
        .join(lmScoreFrame(s, dir), Seq("doc_id"))
        .select(col("doc_id"), col("lang"),
          when(col("n_bigrams") === 0L, lit(0L))
            .otherwise(expr("sum_nll_micro div (n_bigrams * 1000)"))
            .cast(LongType).as("bits_milli"))
      midRankEcdfMicro(scored, "lang", "bits_milli")
        .select(col("doc_id"), col("lang"), col("bits_milli"),
          col("pct_rank_micro"),
          when(col("pct_rank_micro") * 3 < 1000000L, lit("head"))
            .when(col("pct_rank_micro") * 3 < 2000000L, lit("middle"))
            .otherwise(lit("tail")).as("ccnet_bucket"))
    }),

    // Gopher-rules quality filter (Rae et al. 2021, "Scaling Language
    // Models: ... Gopher" §A1.1 — the published rule-based corpus
    // filter family): per-doc hard-threshold rules over cheap surface
    // statistics, each reported as its metric + verdict so the QA plane
    // can tune thresholds per source. Rules here: word-count bounds
    // [50, 100k], mean word length [3, 10], alphabetic-word fraction
    // >= 0.8, >= 2 stopword hits, '#'-symbol ratio <= 0.1. MAP-ONLY at
    // any scale (one projection, no shuffle); expressions stay in the
    // ASCII regex subset both engines parse identically, and the one
    // ratio division is guarded (ANSI errors on any division by zero).
    "q_text_gopher_rules" -> ((s, dir) =>
      gopherFrameOf(t(s, dir, "documents"))),

    // Distribution-drift monitor (chi-square) — the per-ingest QA gate:
    // the NEW batch's quality-score histogram per source against the
    // EXISTING corpus's, on the fixed decile grid floor(q·10) (no
    // reference-quantile estimation — the grid is deterministic, so
    // drift verdicts are reproducible). Counts are exact longs from one
    // aggregate; the expected count e = (c+1)·n_batch/n_corpus (add-one
    // smoothing keeps a batch-only bucket finite) and each chi-square
    // term ride ONE pinned double expression tree over those integers —
    // cross-engine equality needs identical operations on identical
    // inputs, not magnitude bounds — then floor-quantize to micro-units
    // so the per-source total is an order-free long sum. Chi-square,
    // not PSI/KL: those need ln, which is not correctly-rounded across
    // libm implementations (the q_text_bm25 rational-idf rationale).
    // Scale: one (source, bucket) aggregate with map-side combine; the
    // windows run over the |sources|×12 cell grid, never the corpus.
    "q_qa_drift_chi2" -> ((s, dir) => {
      // ONE shared builder pair (driftHistogramOf + chi2DriftOf) with
      // the streaming gate (StreamingJobs.driftGateSink), so stream and
      // batch verdicts cannot drift
      val docs = t(s, dir, "documents")
      chi2DriftOf(docs.where(col("doc_id") % 10 === 0),
        driftHistogramOf(docs.where(col("doc_id") % 10 =!= 0)))
    }),

    // PII redaction — the scrub pass every production corpus runs
    // before training: emails and phone-shaped numbers are replaced
    // with typed placeholders and counted per doc (the counts feed the
    // QA plane; a source whose PII rate spikes gets quarantined, not
    // silently scrubbed). MAP-ONLY — regexes are per-row, no shuffle at
    // any scale. The fixture corpus contains no PII, so docs are
    // deterministically SEEDED first (every 7th doc gets an email +
    // phone derived from doc_id — same seeding discipline as
    // q_ref_mv_delayed_chain_seeded) with the identical expression in
    // the oracle; both engines then redact the same bytes, and the
    // redacted text itself is hash-compared, so a regex-dialect drift
    // (Java vs RE2) or a missed occurrence breaks the row. Patterns
    // stay in the ASCII subset both dialects parse identically;
    // replace-ALL is Spark's default and pinned with 'g' in DuckDB.
    "q_text_redact_pii" -> ((s, dir) => {
      val seeded = when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com tel 555-"),
          lpad((col("doc_id") % 10000).cast(StringType), 4, "0")))
        .otherwise(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"), seeded.as("text"))
        .select(col("doc_id"), col("source"),
          piiCountCol(col("text"), PiiEmailRe).as("n_emails"),
          piiCountCol(col("text"), PiiPhoneRe).as("n_phones"),
          redactedPiiCol(col("text")).as("redacted"))
    }),

    // Quality-signal evaluation: exact ROC-AUC of the quality score
    // against the corpus's planted language label (en = positive) —
    // the calibration step before trusting any filter signal at scale
    // ("does this score actually separate the populations I think it
    // does?"). AUC = Mann-Whitney U with tie correction, computed
    // WITHOUT ranking rows: scores quantize to <=1e6+1 integer buckets
    // (floor(q*1e6); exact — the score arithmetic is IEEE-identical on
    // both engines), one aggregate reduces the corpus to per-bucket
    // (npos, nneg), and the cumulative walk runs over the BUCKET table
    // — a single-partition window over provably bounded aggregate
    // output, never over rows. U2 = sum npos_b*(2*cumneg_<b + nneg_b)
    // counts strict wins twice and ties once; auc_micro = the integer
    // division 1e6*U2 div (2*npos*nneg), bit-equal cross-engine. Docs
    // with a null score (no tokens) are excluded — engines disagree on
    // null ordering, and a scoreless doc has no rank.
    "q_text_quality_auc" -> ((s, dir) => {
      val buckets = t(s, dir, "documents")
        .select(floor(qualityScoreCol * lit(1000000L)).cast(LongType).as("qs"),
          (col("lang") === "en").as("pos"))
        .where(col("qs").isNotNull)
        .groupBy(col("qs"))
        .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("npos"),
          sum(when(col("pos"), 0L).otherwise(1L)).as("nneg"))
      val below = Window.orderBy(col("qs"))
        .rowsBetween(Window.unboundedPreceding, -1)
      buckets
        .withColumn("cumneg", coalesce(sum(col("nneg")).over(below), lit(0L)))
        .agg(sum(col("npos")).as("n_pos"), sum(col("nneg")).as("n_neg"),
          sum((lit(2L) * col("cumneg") + col("nneg")) * col("npos")).as("u2"))
        .select(col("n_pos"), col("n_neg"), col("u2"),
          expr("(1000000 * u2) div (2 * n_pos * n_neg)").as("auc_micro"))
    }),

    // Language-ID n-gram heuristic: count distinctive function-word
    // occurrences per language profile; argmax with fixed tie order.
    "q_text_lang_id" -> (langFrame(_, _)),

    // The composed cleaning pipeline a training corpus actually runs —
    // language gate, quality gate, exact dedup (keep first), MinHash-LSH
    // near-dup drop among survivors — as ONE declarative plan built from
    // the same frames the individual operators register (shared column
    // builders, so the composition cannot drift from its pieces). Each
    // stage is per-row or shuffles on a content key, so the composition
    // scales exactly as its pieces do. Kept as narrow per-gate frames
    // joined on doc_id rather than one fused mega-projection: measured
    // back-to-back, the fused variant was ~1.5x slower cold (one huge
    // whole-stage-codegen unit) for identical results.
    "q_text_clean_corpus" -> ((s, dir) => {
      // ONE spread scan, materialized, feeding ALL THREE gates (r21,
      // guide §2.4): the per-gate tSpread calls each re-ran the scan +
      // a full-text exchange (measured ~5 serialized single-task
      // scan+write passes ≈ 2.2 s at sf0.1 — column pruning
      // specializes each exchange subtree, so exchange reuse never
      // deduped them). The cut leaf is doc_id-partitioned, so the two
      // gate joins below still co-partition with no further exchange.
      val docs = graft.plans.Checkpoints.cut(
        graft.Tables.tSpread(s, dir, "documents", "doc_id")
          .select(col("doc_id"), col("source"), col("lang"), col("text")))
      val q = qualityFrameOf(docs)
        .select(col("doc_id"), col("source"), col("quality_score"))
      val l = langFrameOf(docs).select(col("doc_id"), col("lang_pred"))
      val base = docs
        .select(col("doc_id"), textKeyCol.as("tkey"))
        .join(q, "doc_id").join(l, "doc_id")
        .where(gatePass(col("quality_score"), col("lang_pred")))
      val kept = base
        .withColumn("min_id",
          min(col("doc_id")).over(Window.partitionBy(col("tkey"))))
        .where(col("doc_id") === col("min_id"))
        .select(col("doc_id"), col("source"), col("lang_pred"),
          col("quality_score"))
      val pairs = minhashPairs(s, dir)
      val drops = pairs
        .join(kept.select(col("doc_id").as("doc_a")), "doc_a")
        .join(kept.select(col("doc_id").as("doc_b")), "doc_b")
        .select(col("doc_b").as("drop_id")).distinct()
      kept.join(drops, col("doc_id") === col("drop_id"), "left_anti")
    }),

    // Winnowed rolling-hash fingerprints (MOSS scheme): polynomial
    // rolling hash over char 8-grams, minimum per window of 4 hashes,
    // distinct per doc — the overlap-detection fingerprint set. The
    // whole computation is one native O(n) pass per row
    // (functions/TextHashExpressions.scala WinnowedFingerprints); the
    // oracle recomputes each k-gram hash positionally in SQL.
    // Cross-source contamination matrix: how many distinct winnow
    // fingerprints each PAIR of sources shares — the corpus-curation
    // view of leakage between feeds (mirrored benchmarks, scraped
    // duplicates) before any doc-level verdict. ONE shuffle over the
    // fingerprint set: groupBy(fp) collects the distinct sources per
    // fingerprint (collect_set dedups, so no upstream distinct), keeps
    // only fps seen in >= 2 sources, and the in-codegen orderedPairs
    // explode (the LshBandJoin pattern) fans each fp out to at most
    // sources^2/2 pairs — the source set is config-scale (tens), so the
    // fan-out and the final matrix stay tiny at 100 TB. The r12 plan
    // (distinct + fp-keyed self-join) shuffled the fingerprint set three
    // times and re-scaled with the corpus; this shuffles it once.
    "q_text_source_overlap" -> ((s, dir) => {
      import graft.functions.TextHashFunctions.winnowedFingerprints
      import graft.operators.LshBandJoin.orderedPairs
      // spread the scan (guide §2.5) and pin the fp-aggregate parallelism
      // with an explicit count: the orderedPairs explode + agg is
      // CPU-dense over ~0.4 MB of fingerprints, which AQE folded onto
      // one task (measured 1.05 s single-task at sf0.1)
      val fps = graft.Tables.tSpread(s, dir, "documents", "doc_id")
        .select(col("source"),
          explode(winnowedFingerprints(col("text"), WinK, WinW, WinB, WinP))
            .as("fp"))
      fps.repartition(s.sessionState.conf.numShufflePartitions, col("fp"))
        .groupBy(col("fp"))
        .agg(array_sort(collect_set(col("source"))).as("srcs"))
        .where(size(col("srcs")) >= 2)
        .select(explode(orderedPairs(col("srcs"))).as("p"))
        .select(col("p.a").as("src_a"), col("p.b").as("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(cnt.as("n_shared_fps"))
    }),

    "q_text_winnow" -> ((s, dir) => {
      import graft.functions.TextHashFunctions.winnowedFingerprints
      t(s, dir, "documents").select(col("doc_id"),
        explode(winnowedFingerprints(col("text"), WinK, WinW, WinB, WinP))
          .as("fingerprint"))
    }),

    // Benchmark decontamination: flag training documents whose winnowed
    // fingerprints overlap an evaluation set (here: every doc_id%100==7
    // stands in for the benchmark). This is THE pre-training hygiene
    // operator — eval contamination detection — built from the same
    // O(n) winnowing kernel as q_text_winnow: fingerprints explode and
    // join on the (small, broadcast-able) benchmark fingerprint set, so
    // the corpus side shuffles only matching fingerprints; overlap >= 3
    // windows marks contamination (single shared windows collide
    // benignly).
    // Routed through the cost-based `decontaminate` entry point: AUTO
    // compares the measured benchmark-fingerprint cardinality x row
    // bytes against the session's autoBroadcastJoinThreshold and picks
    // broadcast-rows (it fits at every test SF — the plan the pins
    // expect) vs the bloom blob, the way production picks from stats.
    "q_text_decontaminate" -> (decontaminate(_, _, DecontamAuto)),

    // Stratified quality gate: a GLOBAL quality threshold silently
    // biases the mix (a clean source passes everything, a noisy one
    // drops most rows) — the production gate thresholds each source
    // against its OWN distribution. Keep docs at or above their
    // source's exact discrete p25 (rank ceil(n/4) in (quality, doc_id)
    // order, NULLS LAST pinned on both engines); the per-source window
    // partitions by source, and the threshold table (one row per
    // source) broadcasts back.
    "q_text_quality_stratified" -> ((s, dir) => {
      val q = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), qualityScoreCol.as("q"))
      val bySource = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
      val thr = q
        .withColumn("rn", row_number().over(
          bySource.orderBy(col("q").asc_nulls_last, col("doc_id"))))
        .withColumn("n", count(lit(1)).over(bySource))
        .where(col("rn") === ceil(col("n") / lit(4.0)).cast(LongType))
        .select(col("source"), col("q").as("q_p25"))
      q.join(broadcast(thr), "source")
        .where(col("q") >= col("q_p25"))
        .select(col("doc_id"), col("source"), col("q").as("quality_score"))
    }),

    // Corpus-relative token rarity — a perplexity proxy without a model:
    // docs dominated by corpus-rare tokens (low mean frequency) are the
    // gibberish/noise candidates that per-doc-local stats (q_text_token_
    // stats) cannot see. Two shuffles: the corpus-wide token frequency
    // aggregate and the token-keyed join back — the standard shape for
    // any corpus-relative signal; frequencies stay exact integers until
    // ONE final division, so the oracle hash-matches bit-for-bit.
    "q_text_rarity" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), explode(words(col("text"))).as("tok"))
        .where(length(col("tok")) > 0)
      val freq = toks.groupBy(col("tok")).agg(cnt.as("tok_freq"))
      toks.join(freq, "tok")
        .groupBy(col("doc_id"))
        .agg(cnt.as("n_tokens"),
          sum(col("tok_freq")).cast(LongType).as("freq_sum"),
          (sum(col("tok_freq")).cast(DoubleType) / count(lit(1)))
            .as("mean_tok_freq"))
    }),

    // Incremental corpus dedup — the shape a daily ingest actually runs:
    // dedup a NEW batch (doc_id % 10 == 0 stands in for today's arrivals)
    // against the EXISTING corpus without touching corpus-x-corpus pairs.
    // Exact membership probes the corpus content-key index (semi-join on
    // md5 key); near-dup membership probes the corpus LSH band index
    // (semi-join on band_key) — both joins ship only the batch side plus
    // matching index entries, so cost scales with the BATCH, not the
    // corpus. The two index frames are the persisted tables a production
    // pipeline maintains (run/Orchestrator.indexDedupBatch is the
    // warehouse-table form); here they are built ONCE per (session, SF)
    // and persisted via [[corpusDedupIndexes]] — the same
    // persisted-warehouse-state discipline as PipelineQueries' memoized
    // silver/gold layers — so every run measures the batch probe, not a
    // corpus re-scan (the r11 form re-derived both indexes per run and
    // scaled with the corpus: 38.7x at 10x data).
    "q_dedup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val isNew = col("doc_id") % 10 === 0
      val (corpusKeys, corpusBands) = corpusDedupIndexes(s, dir)
      val nearDocs = docs.where(isNew)
        .select(col("doc_id"), minhashCol.as("mh"))
        .where(col("mh").isNotNull)
        .select(col("doc_id"), explode(bandKeysCol(col("mh"))).as("band_key"))
        .join(corpusBands, Seq("band_key"), "left_semi")
        .select(col("doc_id")).distinct()
      docs.where(isNew).select(col("doc_id"), textKeyCol.as("text_key"))
        .join(corpusKeys.withColumn("__e", lit(1L)), Seq("text_key"), "left")
        .join(nearDocs.withColumn("__n", lit(1L)), Seq("doc_id"), "left")
        .select(col("doc_id"),
          col("__e").isNotNull.as("exact_dup"),
          col("__n").isNotNull.as("near_dup"),
          (col("__e").isNull && col("__n").isNull).as("keep"))
    }),

    // The forced-bloom pin of the same entry point — the shape the AUTO
    // pick takes once the benchmark outgrows the broadcast budget at
    // real scale. Bloom filters have no false negatives, so the
    // composed result is exactly the q_text_decontaminate semantics;
    // the oracle is the same SQL.
    "q_text_decontaminate_bloom" -> (decontaminate(_, _, DecontamBloom)),

    // Sequence packing (concat-and-chunk): the LLM-training prep step
    // that concatenates the token stream in a deterministic document
    // order and slices it into fixed-budget context windows — each doc
    // gets its global token offset and the bin range it lands in (docs
    // may straddle bins). The global running offset is computed with NO
    // single-partition window: per-shard exclusive prefix sums (shard =
    // doc_id div 1000, an order-preserving range shard) plus a running
    // offset over the tiny shard-total table, broadcast back — the same
    // two-phase shape as q_surrogate_key_scalable, so packing scales to
    // any corpus. All outputs are integers — cross-engine exact.
    "q_pack_sequences" -> ((s, dir) => packFrame(s, dir)
      .select(col("doc_id"), col("n_tokens"), col("tok_offset"),
        col("first_bin"), col("last_bin"),
        (col("tok_offset") % PackBin).as("offset_in_bin"))),

    // The consumable face of packing: the SHARD MANIFEST a training
    // loader actually reads — one row per (bin, doc) overlap with the
    // doc's token span inside that bin (docs straddling a boundary
    // appear in every bin they touch). Derived from the same two-phase
    // prefix-sum frame; the bin explode fans each doc out to
    // (n_tokens / B) + 1 rows — output-proportional, map-only after
    // the offsets join, so the manifest costs what it sizes at any
    // corpus scale. All integers — cross-engine exact.
    "q_pack_bins" -> ((s, dir) => {
      val B = PackBin
      packFrame(s, dir)
        .select(col("doc_id"), col("n_tokens"), col("tok_offset"),
          explode(sequence(col("first_bin"), col("last_bin"))).as("bin"))
        .select(col("bin"), col("doc_id"),
          (greatest(col("tok_offset"), col("bin") * B)
            - col("bin") * B).as("bin_tok_start"),
          (least(col("tok_offset") + col("n_tokens"), (col("bin") + 1) * B)
            - col("bin") * B).as("bin_tok_end"))
        .withColumn("n_tokens_in_bin",
          col("bin_tok_end") - col("bin_tok_start"))
    }),

    // Document-preserving packing (the padding-waste face the chunk
    // rows don't cover): each doc lands WHOLE in exactly one bin via
    // length-class (harmonic) packing — see bestfitFrame for the
    // algorithm, waste bound, and the two-phase plan shape. Output is
    // the loader manifest: per doc its bin, its per-bin class capacity,
    // and its token offset inside the bin. All integers — cross-engine
    // exact.
    "q_pack_bestfit" -> ((s, dir) => bestfitFrame(s, dir)),

    // The packing-efficiency comparison: padded tokens under (a)
    // concat-and-chunk (zero padding except the final bin, but docs
    // straddle boundaries), (b) one-doc-per-bin (the naive document-
    // preserving loader), (c) length-class packing. The row proves the
    // packed form keeps document boundaries at a fraction of (b)'s
    // padding, approaching (a)'s bin count — the number a training
    // pipeline actually budgets. Three metadata-plane aggregates.
    "q_pack_bestfit_waste" -> ((s, dir) => {
      val B = PackBin
      val d = t(s, dir, "documents").select(
        size(words(col("text"))).cast(LongType).as("n_tokens"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tot"))
      val chunk = d.select(lit("concat_chunk").as("strategy"),
        expr(s"(tot + $B - 1) div $B").as("n_bins"),
        col("tot").as("total_tokens"),
        (expr(s"(tot + $B - 1) div $B") * B - col("tot"))
          .as("padded_tokens"),
        lit(false).as("preserves_docs"))
      val one = d.select(lit("one_doc_per_bin").as("strategy"),
        col("n_docs").as("n_bins"), col("tot").as("total_tokens"),
        (col("n_docs") * B - col("tot")).as("padded_tokens"),
        lit(true).as("preserves_docs"))
      val packed = bestfitFrame(s, dir)
        .agg(countDistinct(col("bin")).as("n_bins"),
          sum(col("n_tokens")).as("tot"))
        .select(lit("length_class_packed").as("strategy"), col("n_bins"),
          col("tot").as("total_tokens"),
          (col("n_bins") * B - col("tot")).as("padded_tokens"),
          lit(true).as("preserves_docs"))
      chunk.unionAll(one).unionAll(packed)
    }),

    // Repetition quality signal (the Gopher-rules family): fraction of
    // duplicate word-3-grams per document — highly repetitive docs are
    // low-quality training data. distinct-shingle counts come from the
    // same native one-pass kernel as the dedup path; map-only at any
    // scale.
    "q_text_repetition" -> ((s, dir) => {
      import graft.functions.TextHashFunctions.shingleHashes
      val w = words(col("text"))
      val total = greatest(size(w) - 2, lit(0)).cast(LongType)
      val uniq = size(shingleHashes(w, 3)).cast(LongType)
      t(s, dir, "documents").select(
        col("doc_id"),
        total.as("n_shingles"),
        uniq.as("n_distinct_shingles"),
        when(total === 0, 0.0)
          .otherwise(lit(1.0) - uniq.cast(DoubleType) / total)
          .as("dup_shingle_fraction"))
        .withColumn("is_repetitive", col("dup_shingle_fraction") > 0.2)
    }),

    // Deterministic train/validation/test split: bucket = 60-bit md5 of
    // the doc id mod 100 → 90/5/5. Hash-based (not random) so the split
    // is stable under reprocessing, joins, and corpus growth — the
    // property a training pipeline actually needs; content-independent
    // so near-dups land by id, which is why dedup runs BEFORE splitting
    // in q_text_clean_corpus's ordering. Map-only at any scale.
    "q_split_train_test" -> ((s, dir) => {
      val bucket = conv(substring(md5(col("doc_id").cast(StringType)), 1, 15),
        16, 10).cast(LongType) % 100
      t(s, dir, "documents").select(
        col("doc_id"), col("source"), bucket.as("bucket"),
        when(bucket < 90, "train")
          .when(bucket < 95, "validation")
          .otherwise("test").as("split"))
    }),

    // Leakage-safe split: the per-doc hash split above puts two
    // NEAR-DUPLICATE documents on different sides whenever their ids
    // hash apart — a train/test contamination channel that survives
    // dedup-then-split orderings which only drop exact copies. Here the
    // split coin is thrown on the near-dup COMPONENT label (transitive
    // closure of the MinHash-LSH candidate graph), so an entire
    // duplicate family lands on one side by construction. Cost over the
    // plain split = exactly the components computation the dedup stage
    // already runs (O(log n) star-contraction rounds; in production the
    // component table is the persisted dedup index, making this
    // map-only again). SplitLeakageSpec proves the property edge-by-edge
    // and shows the per-doc split violating it on the same fixture.
    "q_split_leakage_safe" -> ((s, dir) => {
      val comp = lshComponents(s, dir)
      val bucket = conv(substring(md5(col("component").cast(StringType)), 1, 15),
        16, 10).cast(LongType) % 100
      t(s, dir, "documents")
        .select(col("doc_id"), col("source")).join(comp, "doc_id")
        .select(col("doc_id"), col("source"), col("component"),
          bucket.as("bucket"),
          when(bucket < 90, "train")
            .when(bucket < 95, "validation")
            .otherwise("test").as("split"))
    }),

    // Domain-mixture sampling: per-source target rates (the training-mix
    // config — here a derived 25/50/75/100% cycle standing in for the
    // usual weights table) applied with a deterministic md5 coin per
    // document, so the sample is reproducible, join-stable, and
    // composable with the split/dedup stages. Weights broadcast; the
    // corpus side is map-only.
    "q_sample_mixture" -> ((s, dir) => {
      import s.implicits._
      val weights = (0 until 20)
        .map(i => (s"src$i", ((i % 4 + 1) * 25).toLong))
        .toDF("source", "keep_pct")
      val bucket = conv(substring(md5(concat(col("source"), lit(":"),
        col("doc_id").cast(StringType))), 1, 15), 16, 10).cast(LongType) % 100
      t(s, dir, "documents")
        .join(broadcast(weights), "source")
        .select(col("source"), col("doc_id"), col("keep_pct"),
          bucket.as("bucket"), (bucket < col("keep_pct")).as("keep"))
    }),

    // Length-bucketed batch planning — the padded-batching face of
    // sequence prep (q_pack_sequences is the concat face): docs are
    // bucketed by token length (data-independent 32-token bands, so
    // bucketing is map-only — no global ntile sort), ranked inside
    // their bucket by (n_tokens, doc_id), and cut into fixed-size
    // batches of 8; each batch pads to its max length, and the output
    // reports the padding waste per batch (pad_tokens, efficiency) —
    // the number a pipeline watches to tune its bucket bands. Scale:
    // ONE bucket-keyed window; the (bucket, batch) aggregate rides the
    // same partitioning (batch refines bucket), so there is exactly
    // one full-data exchange.
    "q_pack_length_buckets" -> ((s, dir) => {
      val B = 8
      val toks = t(s, dir, "documents")
        .select(col("doc_id"),
          size(words(col("text"))).cast(LongType).as("n_tokens"))
        .withColumn("bucket",
          least(expr("n_tokens div 32"), lit(15L)))
      val w = Window.partitionBy(col("bucket"))
        .orderBy(col("n_tokens"), col("doc_id"))
      toks
        .withColumn("batch",
          floor((row_number().over(w) - 1) / lit(B)).cast(LongType))
        .groupBy(col("bucket"), col("batch"))
        .agg(cnt.as("n_docs"),
          max(col("n_tokens")).as("max_len"),
          sum(col("n_tokens")).as("sum_len"))
        .withColumn("pad_tokens",
          col("n_docs") * col("max_len") - col("sum_len"))
        .withColumn("efficiency",
          col("sum_len").cast(DoubleType) /
            (col("n_docs") * col("max_len")))
    }),

    // Deterministic epoch shuffling — the training-order permutation:
    // each epoch assigns every doc a dense global position 1..N in the
    // order of its 60-bit md5("ep<epoch>:<doc_id>") key, so the
    // permutation is reproducible (rerun-stable, resumable mid-epoch)
    // and epochs decorrelate (different salt → independent order).
    // A naive ROW_NUMBER over the full corpus is a single-partition
    // sort; this is the two-phase global rank (q_surrogate_key_scalable
    // discipline): hash keys bucket by their TOP bits (so buckets are
    // order-aligned ranges), per-bucket counts prefix-sum into offsets
    // over the tiny |epochs|×256 grid, and each bucket ranks locally —
    // the only full-data shuffle is the 256-way bucket exchange.
    "q_shuffle_epochs" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
        .withColumn("epoch", explode(array(lit(1), lit(2))))
      val h = conv(substring(md5(concat(lit("ep"), col("epoch"), lit(":"),
        col("doc_id").cast(StringType))), 1, 15), 16, 10).cast(LongType)
      // top 8 of the 60 hash bits: 256 buckets, bucket order == h order
      val keyed = docs.withColumn("h", h)
        .withColumn("__bucket", expr("h div 4503599627370496"))
      val counts = keyed.groupBy(col("epoch"), col("__bucket"))
        .agg(cnt.as("n"))
      val wOff = Window.partitionBy(col("epoch")).orderBy(col("__bucket"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = counts
        .withColumn("off", coalesce(sum(col("n")).over(wOff), lit(0L)))
        .select(col("epoch"), col("__bucket"), col("off"))
      val wPart = Window.partitionBy(col("epoch"), col("__bucket"))
        .orderBy(col("h"), col("doc_id"))
      keyed.join(broadcast(offsets), Seq("epoch", "__bucket"))
        .select(col("doc_id"), col("epoch").cast(LongType).as("epoch"),
          (col("off") + row_number().over(wPart)).cast(LongType)
            .as("shuffle_pos"))
    }),

    // Token-budget mixture planning — the "hit N tokens per source"
    // face of training-mix design (q_sample_mixture keeps by doc
    // percentage; real mix specs are TOKEN budgets). Per-source
    // available tokens (one tiny integer aggregate) meet a
    // deterministic per-source budget; the repeat rate is carried as
    // integer PARTS-PER-MILLION (budget·1e6 div avail — `div`, not
    // float division, so the rate is exact and order-free), and each
    // doc gets floor copies plus a fractional extra decided by its
    // 60-bit md5 coin against the ppm remainder — the same
    // deterministic-coin discipline as q_sample_temperature, so the
    // expected token draw matches the budget without any RNG. Scale:
    // the corpus pass is map-only; the only shuffles are the
    // source-keyed token sum (map-side combined to |sources| rows) and
    // the broadcast join of the source-cardinality rate table back.
    "q_sample_token_budget" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(words(col("text"))).cast(LongType).as("n_tokens"))
      val rates = toks.groupBy(col("source"))
        .agg(sum(col("n_tokens")).as("avail_tokens"))
        .withColumn("budget_tokens",
          lit(10000L) * (lit(1L) +
            conv(substring(md5(col("source")), 1, 2), 16, 10)
              .cast(LongType) % 8))
        .withColumn("repeat_ppm",
          expr("budget_tokens * 1000000 div avail_tokens"))
      val coin = conv(substring(md5(concat(col("source"), lit(":"),
        col("doc_id").cast(StringType))), 1, 15), 16, 10)
        .cast(LongType) % 1000000L
      toks.join(broadcast(rates), "source")
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("avail_tokens"), col("budget_tokens"), col("repeat_ppm"),
          (expr("repeat_ppm div 1000000") +
            when(coin < col("repeat_ppm") % 1000000L, 1L).otherwise(0L))
            .as("n_copies"))
    }),

    // Systematic probability-proportional-to-size (PPS) sampling: draw
    // exactly k documents with inclusion probability proportional to
    // length — the classic survey-sampling design (one grid of k
    // equally-spaced points over the cumulative-weight axis; a doc is
    // hit once per grid point inside its weight interval, so a doc
    // longer than the stride is drawn multiple times — that's PPS with
    // replacement-like multiplicity, reported as n_hits). Fully
    // deterministic and integer-exact: stride and offset come from
    // `div`, the hit count is a closed-form floor-division difference —
    // no RNG, no floats, engine-exact. Scale: the cumulative axis is
    // the q_pack_sequences two-phase prefix sum (per-shard exclusive
    // sums + a broadcast offsets table over the tiny shard-total frame
    // — no corpus-wide single-partition window), and the total-weight
    // frame is a 1-row aggregate; the corpus pass is otherwise
    // map-only. Exactly k hits are distributed across the output by
    // construction (sum(n_hits) = k for any corpus with total >= k).
    "q_sample_pps_systematic" -> ((s, dir) => {
      val k = 10L
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          coalesce(col("n_chars").cast(LongType), lit(0L)).as("w"))
      val tot = docs.agg(sum(col("w")).as("wtot")) // 1-row, aggregate-reduced
      // grid points p_m = off + m*stride, m = 0..k-1; hits(doc) =
      // f(cum_hi) - f(cum_lo) with f(x) = #points < x
      def gridBelow(c: String): Column =
        when(col(c) <= col("off"), 0L).otherwise(
          least(lit(k), expr(s"($c - off + stride - 1) div stride")))
      shardedPrefixSum(docs, "doc_id", "w", "cum_lo", inclusive = false)
        .withColumn("cum_hi", col("cum_lo") + col("w"))
        .crossJoin(broadcast(tot))
        .withColumn("stride", expr(s"wtot div $k"))
        .withColumn("off", expr("stride div 2"))
        .withColumn("n_hits",
          (gridBelow("cum_hi") - gridBelow("cum_lo")).cast(LongType))
        .where(col("n_hits") > 0)
        .select(col("doc_id"), col("w"), col("n_hits"))
    }),

    // Temperature-scaled mixture sampling — the production training-mix
    // operator (multilingual balancing a la XLM-R): sampling weights
    // DERIVE from the corpus distribution, w_l ∝ p_l^α with α=0.5, so
    // low-resource languages upsample (rate > 1: every doc repeats,
    // plus a fractional extra copy) and the dominant language
    // downsamples — en is ~42% of this corpus at every sf, so the
    // rebalancing is real, not a flat rate=1 pass. Per-doc copy counts
    // (floor(rate) + a deterministic md5 coin on the fractional part)
    // give the epoch-expansion face — downstream repeats each doc
    // n_copies times. Cross-engine float discipline: the per-language
    // weights are QUANTIZED to exact integers (floor(sqrt(p)*1e9)) so
    // the normalizing sum is order-free integer arithmetic, and the
    // only float op after sqrt is ONE division — a float SUM over the
    // weights would be summation-order-dependent and break the oracle
    // hash. Stats side is two tiny aggregates (language-cardinality
    // frames, broadcast); the corpus pass is map-only.
    "q_sample_temperature" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val tot = docs.agg(cnt.as("big_n"))
      val wq = docs.groupBy(col("lang")).agg(cnt.as("n"))
        .crossJoin(tot) // 1-row, aggregate-reduced
        .select(col("lang"), col("n"), col("big_n"),
          floor(sqrt(col("n").cast(DoubleType) / col("big_n")) * 1e9)
            .cast(LongType).as("wq"))
      val sw = wq.agg(sum(col("wq")).cast(LongType).as("sw"))
      val rates = wq.crossJoin(sw) // 1-row, aggregate-reduced
        .select(col("lang"),
          ((col("wq") * col("big_n")).cast(DoubleType)
            / (col("sw") * col("n")).cast(DoubleType)).as("rate"))
      val coin = conv(substring(md5(concat(lit("t:"),
        col("doc_id").cast(StringType))), 1, 15), 16, 10).cast(LongType) % 10000
      docs.join(broadcast(rates), "lang")
        .select(col("doc_id"), col("lang"),
          (floor(col("rate")).cast(LongType)
            + when(coin < floor((col("rate") - floor(col("rate"))) * 10000)
                .cast(LongType), 1L).otherwise(0L)).as("n_copies"))
    }),

    // DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    // arXiv:2302.03169): pick the raw-corpus docs that look most like a
    // TARGET distribution. Features are hashed bigram buckets (B=1024);
    // two add-one-smoothed unigram bucket models (target = the lang='en'
    // slice standing in for the curated target corpus; raw = everything)
    // give each bucket a log-likelihood ratio; a doc's importance weight
    // is the sum of its buckets' LLRs; selection is Gumbel top-k, which
    // samples WITHOUT replacement proportionally to exp(weight) — the
    // paper's resampling step — from a deterministic md5 coin.
    // Scale: the bucket-model aggregate reduces map-side to <=B rows per
    // task (broadcast after); scoring is a broadcast model join on the
    // exploded stream + ONE doc_id shuffle with partial aggregation;
    // selection is TakeOrdered top-k. No corpus-sized state anywhere.
    // Cross-engine float discipline: the LLR is log2 of an exact
    // rational, floor-quantized to micro-units per DISTINCT bucket
    // (<=B doubles total), so per-doc sums are exact long arithmetic;
    // the base-2 Gumbel -log2(-log2(u)) differs from the natural-log
    // Gumbel by a positive scale (1/ln 2, applied to weights and noise
    // alike) plus a shared additive constant, so the argsort — hence
    // the selected set — is exactly the paper's.
    "q_sample_dsir" -> ((s, dir) => dsirTopK(s, dir, 100)),

    // DSIR selection-quality evaluation — the paper's distribution-
    // distance metric (Xie et al. 2023 §5): one row with the KL of the
    // add-one-smoothed hashed-bigram bucket distributions, in
    // microbits, from the target to (a) the raw corpus, (b) the
    // q_sample_dsir top-100, and (c) an EQUAL-SIZE deterministic random
    // slice. The random baseline is load-bearing: a k-doc empirical
    // histogram carries ~B/(2N·ln2) bits of finite-sample KL floor
    // regardless of selection quality, so comparing the slice to the
    // full-corpus number would misread sampling noise as regression.
    // MEASURED on this fixture (committed honestly): target ≈ raw at
    // bucket level (kl_raw ~0.004 bits at sf0.1 — the synthetic
    // languages share most bigram buckets), so kl_selected and
    // kl_random land within noise of each other (~0.15-0.17 bits at
    // k=100); the doc-level target enrichment the operator exists for
    // is asserted by SelectionSamplingSpec instead. On a real corpus
    // with divergent sources the same three numbers separate — this
    // row is the dashboard for that. Plan: histograms are bounded
    // map-side aggregates (<=B rows); slice histograms are one
    // semi-join each against a 100-row frame; everything lands on a
    // literal 1024-bucket spine (absent buckets DO contribute under
    // add-one smoothing); per-bucket KL terms floor-micro-quantize
    // before the final 1-row sum (order-free long arithmetic).
    "q_sample_dsir_eval" -> ((s, dir) => {
      val k = 100
      val docs = t(s, dir, "documents")
      val counts = dsirCounts(s, dir)
      // slice histograms explode AFTER the doc-level semi-join — k docs
      // each, never the corpus (the corpus-sized passes live in the two
      // memoized once-per-snapshot artifacts)
      val sel = dsirFeatsOf(
          docs.join(dsirTopK(s, dir, k).select(col("doc_id")),
            Seq("doc_id"), "left_semi"))
        .groupBy(col("bucket")).agg(cnt.as("cs"))
      val rndIds = docs
        .select(col("doc_id"),
          md5Long60(concat(lit("rnd:"), col("doc_id").cast(StringType)))
            .as("rk"))
        .orderBy(col("rk"), col("doc_id")).limit(k).select(col("doc_id"))
      val rnd = dsirFeatsOf(docs.join(rndIds, Seq("doc_id"), "left_semi"))
        .groupBy(col("bucket")).agg(cnt.as("cn"))
      val spine = s.range(0, DsirB).select(col("id").as("bucket"))
      val dense = spine
        .join(broadcast(counts), Seq("bucket"), "left")
        .join(broadcast(sel), Seq("bucket"), "left")
        .join(broadcast(rnd), Seq("bucket"), "left")
        .select(col("bucket"),
          coalesce(col("ct"), lit(0L)).as("ct"),
          coalesce(col("cr"), lit(0L)).as("cr"),
          coalesce(col("cs"), lit(0L)).as("cs"),
          coalesce(col("cn"), lit(0L)).as("cn"))
      val tot = dense.agg(sum(col("ct")).as("tt"), sum(col("cr")).as("tr"),
        sum(col("cs")).as("ts"), sum(col("cn")).as("tn"))
      def p(c: String, total: String): Column =
        (col(c).cast(DoubleType) + lit(1.0)) /
          (col(total).cast(DoubleType) + lit(DsirB.toDouble))
      def klTerm(pa: Column, pb: Column): Column =
        floor(pa * log2(pa / pb) * lit(1000000.0)).cast(LongType)
      dense.crossJoin(broadcast(tot)) // 1-row, agg-reduced
        .select(
          klTerm(p("ct", "tt"), p("cr", "tr")).as("t_r"),
          klTerm(p("ct", "tt"), p("cs", "ts")).as("t_s"),
          klTerm(p("ct", "tt"), p("cn", "tn")).as("t_n"))
        .agg(sum(col("t_r")).as("kl_target_raw_microbits"),
          sum(col("t_s")).as("kl_target_selected_microbits"),
          sum(col("t_n")).as("kl_target_random_microbits"))
    }),

    // Stratified EXACT-k sampling: exactly min(k, |stratum|) documents
    // per language, picked by a deterministic md5 rank — the eval-set /
    // per-domain-probe builder (a fixed-size, reproducible slice per
    // stratum, unlike the rate-based q_sample_mixture). The naive plan
    // is one window over every stratum — a hot-partition bound when a
    // stratum is 40% of a 100 TB corpus. This plan is two-phase: a tiny
    // per-stratum count broadcasts back, a map-only hash-threshold
    // filter keeps ~k*4 candidates per stratum (k*4/n of the corpus),
    // and the exact top-k window runs over the SURVIVORS — per-stratum
    // work is O(k), not O(|stratum|). The threshold prune is lossless
    // unless fewer than min(k, n) docs survive — probability e^{-O(k)}
    // under the uniform md5 rank, and the in-plan assert_true turns
    // that tail into a LOUD failure instead of a silent wrong answer
    // (the oracle computes the unpruned window directly, so the gate
    // also hash-checks the prune).
    "q_sample_stratified_k" -> ((s, dir) => {
      val k = 40
      val over = 4
      val rk = conv(substring(md5(concat(lit("strat:"),
        col("doc_id").cast(StringType))), 1, 15), 16, 10).cast(LongType)
      val withRk = t(s, dir, "documents")
        .select(col("lang"), col("doc_id"), rk.as("rk"))
      val stats = withRk.groupBy(col("lang")).agg(cnt.as("n_lang"))
      val domain = lit(math.pow(16.0, 15.0)) // rk is uniform in [0, 16^15)
      val survivors = withRk.join(broadcast(stats), "lang")
        .where(col("n_lang") <= k * over ||
          col("rk").cast(DoubleType)
            < domain * lit(k.toDouble * over) / col("n_lang"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("rk"), col("doc_id"))
      survivors
        .withColumn("rn", row_number().over(w).cast(LongType))
        .withColumn("n_surv", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))))
        .where(coalesce(assert_true(
          col("n_surv") >= least(lit(k.toLong), col("n_lang")),
          lit("q_sample_stratified_k: hash-threshold prune lost part of " +
            "the top-k — raise the oversample factor")), lit(true)))
        .where(col("rn") <= k)
        .select(col("lang"), col("doc_id"), col("rn").as("sample_rank"))
    }),

    // Vocabulary-growth curve (the Heaps-law profile): how many NEW
    // distinct terms each tranche of the corpus introduces, in
    // deterministic doc_id order, plus the cumulative vocabulary — the
    // tokenizer-sizing signal (how fast does the vocab still grow at
    // the corpus tail?) and a drift probe (a tranche with an anomalous
    // new-term burst is a feed change). Tranche width 1 doc here —
    // the synthetic fixture's ~30-word vocabulary saturates within the
    // first few docs, so wider tranches collapse to one row; at real
    // corpus scale widen the divisor. The tranche table scales with
    // the corpus either way, so the cumulative sum uses the packFrame
    // two-phase prefix shape (per-shard running sums + a broadcast
    // offset from the tiny shard-total table) — NO single-partition
    // pass over an unbounded table (PlanLint enforces this). One term
    // shuffle (groupBy term, min doc_id = first sighting) is the only
    // corpus-sized exchange. All integers, engine-exact.
    "q_text_vocab_growth" -> ((s, dir) => {
      val buckets = t(s, dir, "documents")
        .select(col("doc_id"), explode(words(col("text"))).as("term"))
        .groupBy(col("term")).agg(min(col("doc_id")).as("first_doc"))
        .groupBy(col("first_doc").as("bucket")).agg(cnt.as("new_terms"))
      shardedPrefixSum(buckets, "bucket", "new_terms", "cum_vocab",
        inclusive = true)
        .select(col("bucket"), col("new_terms"), col("cum_vocab"))
    }),

    // Zipf slope of the rank-frequency curve — the second corpus law
    // (vocab growth is Heaps): least-squares slope of log2(freq) vs
    // log2(rank), ~-1 for natural language; a drifting slope flags
    // template spam or feed contamination. Scale-safe by algebra: the
    // regression runs over ONE POINT PER DISTINCT FREQUENCY (group
    // leader rank = 1 + #terms with strictly higher freq), and the
    // number of distinct frequencies is bounded by sqrt(2 x total
    // tokens) — a histogram table, not the vocabulary. Ranks come from
    // the shardedPrefixSum two-phase pass over that table (ordered by
    // max_freq - freq so the order key is non-negative); log2 coords
    // are milli-quantized so the moment sums stay exact in longs, and
    // the one double slope expression is parenthesized identically on
    // both engines.
    "q_text_zipf_slope" -> ((s, dir) => {
      val hist = t(s, dir, "documents")
        .select(explode(words(col("text"))).as("term"))
        .groupBy(col("term")).agg(cnt.as("freq"))
        .groupBy(col("freq")).agg(cnt.as("n_terms"))
      val mx = hist.agg(max(col("freq")).as("max_freq")) // 1-row
      val ranked = shardedPrefixSum(
        hist.crossJoin(broadcast(mx))
          .withColumn("ord", col("max_freq") - col("freq")),
        "ord", "n_terms", "n_higher", inclusive = false)
        .withColumn("min_rank", col("n_higher") + 1)
      val q = (c: Column) =>
        floor(log2(c.cast(DoubleType)) * lit(1000.0)).cast(LongType)
      val d = (c: Column) => c.cast(DoubleType)
      val sums = ranked
        .select(q(col("min_rank")).as("x"), q(col("freq")).as("y"))
        .agg(cnt.as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
      val den = d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))
      sums.select(col("n").as("n_points"),
        when(col("n") <= 1 || den === 0.0, lit(null))
          .otherwise(floor((d(col("n")) * d(col("sxy"))
            - d(col("sx")) * d(col("sy"))) / den * lit(1000000.0))
            .cast(LongType)).as("slope_micro"))
    }),

    // Feature-hashing text embeddings (the hashing trick): project each
    // document onto a fixed D=64-dim vector — bucket = term-hash mod D,
    // a second hash bit gives the ±1 sign that keeps collisions
    // unbiased — weighted by tf x a rational idf core. This is the
    // in-engine text FEATURIZER: fixed-width vectors from raw text with
    // no vocabulary table to build, ship, or version (the property that
    // makes the trick the production choice for corpus-scale featurize;
    // cf. sklearn/Vowpal Wabbit HashingVectorizer semantics). Output is
    // the sparse (doc_id, bucket, weight) form — the dense array face
    // is a trivial pivot; downstream ANN consumes either.
    // Scale: one token explode + per-(doc,term) tf aggregate (the only
    // corpus-sized shuffle), a term-keyed df join with NO broadcast
    // hint (the vocabulary scales with the corpus — Zipf-hot terms are
    // AQE skew-join territory, not driver memory), a 1-row corpus
    // crossJoin, then the (doc, bucket) aggregate whose state is
    // bounded at D rows per doc. Cross-engine: same no-ln discipline as
    // BM25 — idf is the rational (N - df + 0.5)/(df + 0.5), each term's
    // magnitude floor-quantized to micro-units BEFORE the ±sign applies
    // in integer arithmetic (floor(-x) != -floor(x)), so the per-bucket
    // SUM is order-free and bit-identical on both engines.
    "q_text_hash_embed" -> ((s, dir) => {
      val D = 64L
      val docs = graft.Tables.tSpread(s, dir, "documents", "doc_id") // guide §2.5
      val tf = docs
        .select(col("doc_id"), explode(words(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(cnt.as("tf"))
      val dfT = tf.groupBy(col("term")).agg(cnt.as("df_t"))
      val corpus = docs.agg(cnt.as("big_n"))
      tf.join(dfT, "term")
        .crossJoin(broadcast(corpus)) // 1-row, aggregate-reduced
        .withColumn("h",
          conv(substring(md5(col("term")), 1, 9), 16, 10).cast(LongType))
        .withColumn("sgn",
          when(expr(s"(h div $D) % 2") === 0, lit(1L)).otherwise(lit(-1L)))
        .withColumn("w_micro", col("sgn") *
          floor(lit(1e6) * col("tf").cast(DoubleType) *
            ((col("big_n").cast(DoubleType) - col("df_t").cast(DoubleType)
              + lit(0.5)) / (col("df_t").cast(DoubleType) + lit(0.5))))
            .cast(LongType))
        .groupBy(col("doc_id"), (col("h") % D).as("bucket"))
        .agg(sum(col("w_micro")).as("weight_micro"))
    }),

    // BM25 relevance scoring (Robertson/Spärck Jones; k1=1.2, b=0.75)
    // of the corpus against a fixed query-term set — the retrieval face
    // of the curation stack (score-and-rank training docs against a
    // probe query). Plan: the token explode prunes to the query terms
    // MAP-SIDE (the only corpus-sized shuffle is the per-(doc,term) tf
    // aggregate), document frequencies reduce to |Q| rows and
    // broadcast, corpus stats are a 1-row aggregate, and the final
    // ranking is a TakeOrdered top-100. Cross-engine float discipline:
    // the log-idf is replaced by its rational core
    // (N - df + 0.5)/(df + 0.5) — ln is NOT correctly-rounded-
    // guaranteed and differs in ulps between libm implementations,
    // while +,-,*,/ are IEEE-exact in both engines (monotone-in-df like
    // log-idf, so per-term ordering is preserved); each per-term
    // contribution is then floor-quantized to an integer so the
    // per-doc SUM is order-free. Oracle mirrors the exact expression
    // tree (same parenthesization) so every double op is bit-identical.
    "q_text_bm25" -> ((s, dir) => {
      val terms = Seq("vector", "stream", "window")
      val docs = t(s, dir, "documents")
      val dl = docs.select(col("doc_id"),
        size(words(col("text"))).cast(LongType).as("dl"))
      val tf = docs
        .select(col("doc_id"), explode(words(col("text"))).as("term"))
        .where(col("term").isin(terms: _*))
        .groupBy(col("doc_id"), col("term")).agg(cnt.as("tf"))
      val dfT = tf.groupBy(col("term")).agg(cnt.as("df_t"))
      val corpus = dl.agg(cnt.as("big_n"), sum(col("dl")).as("sum_dl"))
      val k1 = lit(1.2)
      val b = lit(0.75)
      val contrib = floor(lit(1e9) *
        ((col("big_n").cast(DoubleType) - col("df_t").cast(DoubleType)
          + lit(0.5)) / (col("df_t").cast(DoubleType) + lit(0.5))) *
        (col("tf").cast(DoubleType) * (k1 + lit(1.0))) /
        (col("tf").cast(DoubleType) + k1 * (lit(1.0) - b +
          b * (col("dl").cast(DoubleType) /
            (col("sum_dl").cast(DoubleType) / col("big_n").cast(DoubleType))))))
        .cast(LongType)
      tf.join(broadcast(dfT), "term")
        .join(dl, "doc_id")
        .crossJoin(broadcast(corpus)) // 1-row, aggregate-reduced
        .select(col("doc_id"), contrib.as("contrib_q"))
        .groupBy(col("doc_id"))
        .agg(sum(col("contrib_q")).as("score_q"), cnt.as("n_terms"))
        .orderBy(col("score_q").desc, col("doc_id"))
        .limit(100)
    }),

    // Ranked-retrieval evaluation (self-retrieval protocol): a FIXED-
    // SIZE query sample — the 256 docs with the smallest md5 sample
    // hash (deterministic on both engines; a distributed TakeOrdered
    // top-k, never a corpus sort) — each query = tokens 5..12 of its
    // source document, relevant doc = the source itself; BM25-score
    // every candidate (same quantized rational-idf core as q_text_bm25,
    // so the sum is order-free and engine-exact) and report, per query,
    // the relevant doc's rank, its reciprocal rank in micro-units, and
    // hit@10 — the inputs to corpus-level MRR / recall@k. The fixed
    // sample is the scale decision: a %-of-corpus query set made total
    // work |Q|x|candidates| ~ corpus^2/10 (measured 13.8x at a 10x data
    // step, r14g); with |Q| pinned the row is linear in the corpus (the
    // tf aggregate) like every other scoring row. The rank is computed
    // WITHOUT a per-query window: join each candidate list to its
    // query's relevant-doc score (a |Q|-row frame) and COUNT the
    // dominators under the (score DESC, doc_id ASC) order — one
    // map-side filter + one aggregate, so a hot query term (a stopword
    // landing in the slice) inflates a candidate COUNT, never a
    // single-task sort. The query-side frames (qterms, dfT, rel) are
    // now all O(|Q|) and broadcast outright.
    "q_text_retrieval_eval" -> ((s, dir) => {
      import s.implicits._
      // spread the unsplittable small scan (guide §2.5): the dl and tf
      // tokenize passes each serialized ~0.55 s of CPU on ONE task at
      // sf0.1; at scale the gate is dead and the read is plan-identical
      val docs = graft.Tables.tSpread(s, dir, "documents", "doc_id")
      val qh = conv(substring(md5(concat(lit("rq:"),
        col("doc_id").cast(StringType))), 1, 15), 16, 10)
        .cast(LongType)
      val qids = docs
        .select(col("doc_id").as("query_id"), qh.as("qh"))
        .orderBy(col("qh"), col("query_id"))
        .limit(RetrievalQuerySample)
        .select(col("query_id"))
      // semi-join BEFORE tokenizing (guide §1.2 per-task work): only
      // the |Q| sampled documents pay words(); the projected-first
      // shape tokenized the whole corpus and then dropped 19/20 of it
      val qdocs = docs
        .join(broadcast(qids.withColumnRenamed("query_id", "doc_id")),
          Seq("doc_id"), "leftsemi")
        .select(col("doc_id").as("query_id"), words(col("text")).as("w"))
      // |Q|·8-row frame, materialized ONCE: three consumers (the tf
      // semi-filter, the scored fan-out, dfT) each re-ran the sampled
      // tokenize + distinct as their own broadcast build otherwise
      val qterms = graft.plans.Checkpoints.cut(qdocs
        .select(col("query_id"), explode(slice(col("w"), 5, 8)).as("term"))
        .distinct())
      // the (doc_id, dl) proxy is materialized ONCE and the corpus
      // scalars ride that materialization as Observations (guide §2.3:
      // compute on lightweight metadata, move it once): the lazy form
      // re-tokenized the whole corpus for the corpus aggregate AND for
      // the scored join — three full words() passes for one column.
      val obsC = org.apache.spark.sql.Observation()
      val dl = graft.plans.Checkpoints.cut(
        docs.select(col("doc_id"),
            size(words(col("text"))).cast(LongType).as("dl"))
          .observe(obsC, cnt.as("big_n"), sum(col("dl")).as("sum_dl")))
      // the explicit doc_id repartition spreads the candidate FAN-OUT
      // (each tf row matches every sampling query carrying its term —
      // ~|Q|/df rows out per row in) across the shuffle parallelism:
      // AQE sizes the tf aggregate's output by ITS bytes and coalesces
      // it to one partition at small SF, putting the whole
      // join+contrib+partial-agg map (measured 2.9 s of CPU, the
      // query's dominant stage) on one core. The extra exchange moves
      // only the query-term-filtered tf aggregate — bytes the scored
      // shuffle already pays — and an explicit repartition is exempt
      // from AQE coalescing at every scale.
      val tf = docs
        .select(col("doc_id"), explode(words(col("text"))).as("term"))
        .join(broadcast(qterms.select(col("term")).distinct()),
          Seq("term"), "leftsemi")
        .groupBy(col("doc_id"), col("term")).agg(cnt.as("tf"))
        // the EXPLICIT count pins the exchange: a bare repartition(col)
        // still participates in AQE coalescing (measured: the fan-out
        // stage collapsed back to one task). The count is the
        // session's configured shuffle parallelism, not a constant.
        .repartition(s.sessionState.conf.numShufflePartitions,
          col("doc_id"))
      val dfT = tf.groupBy(col("term")).agg(cnt.as("df_t"))
      // 1-row LOCAL frame: broadcasts joblessly into the scored plan
      val corpus = Seq((obsC.get("big_n").asInstanceOf[Long],
        obsC.get("sum_dl").asInstanceOf[Long])).toDF("big_n", "sum_dl")
      val k1 = lit(1.2)
      val b = lit(0.75)
      val contrib = floor(lit(1e9) *
        ((col("big_n").cast(DoubleType) - col("df_t").cast(DoubleType)
          + lit(0.5)) / (col("df_t").cast(DoubleType) + lit(0.5))) *
        (col("tf").cast(DoubleType) * (k1 + lit(1.0))) /
        (col("tf").cast(DoubleType) + k1 * (lit(1.0) - b +
          b * (col("dl").cast(DoubleType) /
            (col("sum_dl").cast(DoubleType) / col("big_n").cast(DoubleType))))))
        .cast(LongType)
      // scored is MATERIALIZED once (r20 optimization — reversing the
      // r13 measurement, whose context differed): the `rel` consumer
      // is a broadcast-subquery build, and AQE does NOT reuse the
      // scored aggregate across that boundary — profiled at sf0.1, the
      // rel build re-ran the whole fan-out+aggregate as ONE
      // AQE-coalesced task (2.4 s of CPU, the query's largest stage)
      // while the beats side computed it again. The aggregate's output
      // is (query, matched doc) rows — orders below the candidate
      // stream — so the cut is cheap at any scale and every consumer
      // reads the materialized leaf.
      val scored = graft.plans.Checkpoints.cut(
        tf.join(broadcast(qterms), "term")
        .join(broadcast(dfT), "term")
        .join(dl, "doc_id")
        .crossJoin(broadcast(corpus)) // 1-row LOCAL frame
        .select(col("query_id"), col("doc_id"), contrib.as("contrib_q"))
        .groupBy(col("query_id"), col("doc_id"))
        .agg(sum(col("contrib_q")).as("score_q")))
      val rel = scored.where(col("doc_id") === col("query_id"))
        .select(col("query_id"), col("score_q").as("rel_score"))
      val beats = scored.join(broadcast(rel), "query_id")
        .where(col("score_q") > col("rel_score") ||
          (col("score_q") === col("rel_score") &&
            col("doc_id") < col("query_id")))
        .groupBy(col("query_id")).agg(cnt.as("n_beats"))
      val ranked = rel.join(beats, Seq("query_id"), "left")
        .select(col("query_id"),
          (coalesce(col("n_beats"), lit(0L)) + lit(1L)).as("rnk"))
      qdocs.select(col("query_id")).join(ranked, Seq("query_id"), "left")
        .select(col("query_id"),
          col("rnk").as("rank_of_relevant"),
          coalesce(floor(lit(1000000L) / col("rnk")).cast(LongType), lit(0L))
            .as("rr_micro"),
          coalesce(col("rnk") <= 10, lit(false)).as("hit_at_10"))
    }),

    // Sliding-window document chunking (W=64 tokens, stride 48 → 16
    // overlap): the context-window splitter that turns long documents
    // into trainable sequences. Entirely MAP-ONLY — chunk count derives
    // per row (1 + ceil(max(n−W,0)/S), so the tail is always covered
    // and a short doc yields exactly one chunk), sequence+explode fans
    // out in the same stage, and slice() materializes each chunk
    // without re-tokenizing. No shuffle at any scale; output size is
    // the inherent ~n/S expansion. Pairs with q_pack_sequences (chunk →
    // pack) downstream.
    "q_text_chunk_windows" -> ((s, dir) => {
      val W = 64
      val S = 48
      val w = words(col("text"))
      val base = t(s, dir, "documents").select(
        col("doc_id"), w.as("w"), size(w).cast(LongType).as("n"))
      base
        .withColumn("n_chunks",
          (lit(1L) + floor((greatest(col("n") - W, lit(0L)) + (S - 1))
            / lit(S.toDouble)).cast(LongType)))
        .withColumn("chunk_idx",
          explode(sequence(lit(0L), col("n_chunks") - 1)))
        .select(
          col("doc_id"), col("chunk_idx"),
          (col("chunk_idx") * S).as("chunk_start"),
          least(lit(W.toLong), col("n") - col("chunk_idx") * S)
            .as("n_chunk_tokens"),
          concat_ws(" ", slice(col("w"),
            (col("chunk_idx") * S + 1).cast("int"), lit(W))).as("chunk_text"))
    }),

    // Chunk-level feature-hash embeddings — the RAG-prep composition of
    // the two rows above (chunk → embed): every sliding-window chunk
    // gets its own sparse 64-bucket hashed embedding, with DOC-level
    // idf (document frequency is the established rarity signal; chunk
    // frequency would reward splitting). Same discipline end to end:
    // the chunk fan-out is map-only, tf is one (doc, chunk, term)
    // map-side-combined aggregate, the df join carries NO broadcast
    // hint (vocabulary scales with the corpus), and weights
    // floor-quantize to micro-units BEFORE the integer sign applies so
    // the per-bucket sum is order-free and engine-exact.
    "q_text_chunk_hash_embed" -> ((s, dir) => {
      val D = 64L
      val W = 64
      val S = 48
      val w = words(col("text"))
      val docs = graft.Tables.tSpread(s, dir, "documents", "doc_id") // guide §2.5
      val chunkTerms = docs
        .select(col("doc_id"), w.as("w"), size(w).cast(LongType).as("n"))
        .withColumn("n_chunks", lit(1L) +
          floor((greatest(col("n") - W, lit(0L)) + (S - 1))
            / lit(S.toDouble)).cast(LongType))
        .withColumn("chunk_idx", explode(sequence(lit(0L), col("n_chunks") - 1)))
        .select(col("doc_id"), col("chunk_idx"),
          explode(slice(col("w"), (col("chunk_idx") * S + 1).cast("int"),
            lit(W))).as("term"))
      val tf = chunkTerms
        .groupBy(col("doc_id"), col("chunk_idx"), col("term"))
        .agg(cnt.as("tf"))
      val docTf = docs.select(col("doc_id"), explode(w).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(cnt.as("__tf"))
      val dfT = docTf.groupBy(col("term")).agg(cnt.as("df_t"))
      val corpus = docs.agg(cnt.as("big_n"))
      tf.join(dfT, "term")
        .crossJoin(broadcast(corpus)) // 1-row, aggregate-reduced
        .withColumn("h",
          conv(substring(md5(col("term")), 1, 9), 16, 10).cast(LongType))
        .withColumn("sgn",
          when(expr(s"(h div $D) % 2") === 0, lit(1L)).otherwise(lit(-1L)))
        .withColumn("w_micro", col("sgn") *
          floor(lit(1e6) * col("tf").cast(DoubleType) *
            ((col("big_n").cast(DoubleType) - col("df_t").cast(DoubleType)
              + lit(0.5)) / (col("df_t").cast(DoubleType) + lit(0.5))))
            .cast(LongType))
        .groupBy(col("doc_id"), col("chunk_idx"), (col("h") % D).as("bucket"))
        .agg(sum(col("w_micro")).as("weight_micro"))
    }),

    // Document fingerprint: md5 over whitespace-normalized lowercase text
    // + an 8-token prefix key (cheap clustering key for near-dup triage).
    "q_text_fingerprint" -> ((s, dir) => {
      val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
      t(s, dir, "documents").select(
        col("doc_id"),
        md5(norm).as("fingerprint"),
        concat_ws(" ", slice(words(col("text")), 1, 8)).as("prefix_key"))
    }))

  private def minhashOracleCte: String = {
    val hashes = (0 until MinHashK).map(i =>
      s"MIN((${MinHashA(i)} * CAST(CONCAT('0x', SUBSTRING(md5(s), 1, 9)) AS BIGINT)" +
        s" + ${MinHashB(i)}) % $MinHashP) AS h$i")
      .mkString(", ")
    val bands = (0 until MinHashK / 2).map(b =>
      s"SELECT doc_id, CONCAT_WS('_', '$b', h${2 * b}, h${2 * b + 1}) AS band_key FROM mins")
      .mkString("\n UNION ALL ")
    s"""WITH sh AS (
          SELECT DISTINCT doc_id, s FROM (
            SELECT doc_id, unnest(list_transform(range(1, greatest(len(w)-2,0)+1),
                   i -> array_to_string(w[i:i+2], ' '))) AS s
            FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
                  FROM documents))),
        mins AS (SELECT doc_id, $hashes FROM sh GROUP BY doc_id),
        bands AS ($bands),
        bstat AS (
          SELECT band_key, COUNT(DISTINCT doc_id) AS bucket_n,
                 MIN(doc_id) AS bucket_min
          FROM bands GROUP BY band_key),
        cand_pairs AS (
          SELECT DISTINCT doc_a, doc_b FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band_key = b.band_key AND a.doc_id < b.doc_id
            JOIN bstat st ON st.band_key = a.band_key
              AND st.bucket_n <= ${graft.operators.LshBandJoin.DefaultMaxBucket}
            UNION ALL
            SELECT st.bucket_min AS doc_a, b.doc_id AS doc_b
            FROM bands b JOIN bstat st ON st.band_key = b.band_key
            WHERE st.bucket_n > ${graft.operators.LshBandJoin.DefaultMaxBucket}
              AND b.doc_id > st.bucket_min))"""
  }

  /** Exact-threshold Jaccard pairs over distinct word-3-gram shingles —
    * shared by the naive baseline (over its capped slice) and the
    * lossless PPJoin variant (over the full corpus), whose output
    * contracts are identical.
    */
  /** Shared CTE chain of the containment rows: DISTINCT 60-bit shingle
    * hashes per doc (IDENTICAL values to the native kernel — the sketch
    * row's bottom-k needs the same hash ORDER, not just the same
    * counts), sizes, the rare-shingle candidate gate, exact
    * intersections, and `ex` = pairs with containment >= 0.8.
    */
  private def containmentOracleCte: String =
    s"""WITH sh AS MATERIALIZED (
           SELECT DISTINCT doc_id,
                  CAST(CONCAT('0x', SUBSTRING(md5(s), 1, 15)) AS BIGINT) AS h
           FROM (
             SELECT doc_id, unnest(list_transform(range(1, greatest(len(w)-2,0)+1),
                    i -> array_to_string(w[i:i+2], ' '))) AS s
             FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
                   FROM documents))),
         sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         rare AS (SELECT h FROM sh GROUP BY h
                  HAVING COUNT(*) BETWEEN 2 AND $ContainRareDf),
         cands AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM sh a JOIN rare r ON r.h = a.h
           JOIN sh b ON b.h = a.h AND a.doc_id < b.doc_id),
         inter AS (
           SELECT c.doc_a, c.doc_b, COUNT(*) AS n_shared
           FROM cands c
           JOIN sh a ON a.doc_id = c.doc_a
           JOIN sh b ON b.doc_id = c.doc_b AND b.h = a.h
           GROUP BY c.doc_a, c.doc_b),
         ex AS (
           SELECT i.doc_a, i.doc_b, CAST(i.n_shared AS BIGINT) AS n_shared,
                  CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
                  CAST(i.n_shared AS DOUBLE) / least(sa.n, sb.n) AS containment
           FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
           JOIN sizes sb ON sb.doc_id = i.doc_b
           WHERE CAST(i.n_shared AS DOUBLE) / least(sa.n, sb.n) >= 0.8)"""

  private def jaccardPairsOracle(src: String) =
    s"""WITH sh AS (
         SELECT DISTINCT doc_id, s FROM (
           SELECT doc_id, unnest(list_transform(range(1, greatest(len(w)-2,0)+1),
                  i -> array_to_string(w[i:i+2], ' '))) AS s
           FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
                 FROM $src))),
       sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
                 FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                 GROUP BY a.doc_id, b.doc_id)
       SELECT doc_a, doc_b,
              CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
       FROM inter
       JOIN sizes sa ON sa.doc_id = doc_a
       JOIN sizes sb ON sb.doc_id = doc_b
       WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.8"""

  private def simhashOracle: String = {
    val sums = (0 until SimHashBits).map(j =>
      s"SUM(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j").mkString(", ")
    val recompose = (0 until SimHashBits).map(j =>
      s"CASE WHEN b$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END").mkString(" + ")
    s"""WITH tok AS (
          SELECT doc_id,
                 CAST(CONCAT('0x', SUBSTRING(md5(w), 1, 15)) AS BIGINT) AS h
          FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
                FROM documents)),
        sums AS (SELECT doc_id, $sums FROM tok GROUP BY doc_id)
        SELECT doc_id, $recompose AS simhash FROM sums"""
  }

  private val qualityOracle =
    """WITH f AS (
           SELECT doc_id, source,
                  CAST(len(w) AS DOUBLE) AS n_tok,
                  CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS ttr,
                  CAST(len(list_filter(w, x -> x IN ('the','a','of','and','to','in')))
                    AS DOUBLE) AS n_stop,
                  CAST(length(text) - (len(w) - 1) AS DOUBLE) / len(w) AS mean_wl
           FROM (SELECT doc_id, source, text,
                        regexp_split_to_array(trim(text), '\s+') AS w FROM documents))
         SELECT doc_id, source,
                CAST(n_tok AS BIGINT) AS n_tokens,
                ttr AS type_token_ratio,
                n_stop / n_tok AS stopword_ratio,
                mean_wl AS mean_word_len,
                (LEAST(n_tok, 100.0) / 100.0 + ttr + n_stop / n_tok
                 + CASE WHEN mean_wl >= 3.0 AND mean_wl <= 8.0 THEN 1.0 ELSE 0.0 END)
                  / 4.0 AS quality_score
         FROM f"""

  private val langOracle: String = {
    def occ(pat: String) =
      s"CAST((length(padded) - length(replace(padded, '$pat', ''))) / ${pat.length} AS BIGINT)"
    def prof(pats: Seq[String]) = pats.map(occ).mkString("(", " + ", ")")
    val en = prof(Seq(" the ", " a ", " of "))
    val de = prof(Seq(" der ", " und ", " die "))
    val es = prof(Seq(" el ", " la ", " de "))
    val fr = prof(Seq(" le ", " et ", " les "))
    s"""WITH p AS (SELECT doc_id, lang,
                    CONCAT(' ', LOWER(TRIM(text)), ' ') AS padded FROM documents)
         SELECT doc_id, lang AS lang_label,
                $en AS score_en, $de AS score_de, $es AS score_es, $fr AS score_fr,
                CASE WHEN $en >= GREATEST($de, $es, $fr) AND $en > 0 THEN 'en'
                     WHEN $de >= GREATEST($es, $fr) AND $de > 0 THEN 'de'
                     WHEN $es >= $fr AND $es > 0 THEN 'es'
                     WHEN $fr > 0 THEN 'fr'
                     ELSE 'unknown' END AS lang_pred
         FROM p"""
  }

  private val winnowOracle: String = {
    // POWB(j) = b^(k-1-j) mod p, inlined as a list literal
    val pows = (0 until WinK).map { j =>
      (0 until (WinK - 1 - j)).foldLeft(1L)((r, _) => r * WinB % WinP)
    }
    s"""WITH cs AS (
         SELECT doc_id, length(text) AS n,
                list_transform(range(length(text)),
                  i -> unicode(substring(text, CAST(i+1 AS INT), 1))) AS ch
         FROM documents),
       hs AS (
         SELECT doc_id, n - $WinK + 1 AS m,
                list_transform(range(n - $WinK + 1),
                  i -> CAST(list_sum(list_transform(range($WinK),
                       j -> (ch[CAST(i+j+1 AS INT)]
                             * ([${pows.mkString(",")}])[CAST(j+1 AS INT)])
                            % $WinP)) % $WinP AS BIGINT)) AS h
         FROM cs WHERE n >= $WinK),
       fps AS (
         SELECT doc_id,
                list_transform(range(greatest(m - $WinW + 1, 1)),
                  t -> list_min(h[CAST(t+1 AS INT):CAST(least(t+$WinW, m) AS INT)])) AS f
         FROM hs)
       SELECT DISTINCT doc_id, fp AS fingerprint
       FROM (SELECT doc_id, unnest(f) AS fp FROM fps)"""
  }

  /** SQL mirror of [[bestfitFrame]] up to `assigned(doc_id, n_tokens,
    * k, rn, bin)` — shared by the packing row and its waste comparison
    * so the two cannot drift. The within-class rank is a plain
    * ROW_NUMBER here (DuckDB is single-node; the two-phase sharding is
    * a Spark plan concern, not part of the semantics).
    */
  private val packBestfitCtes: String =
    s"""WITH d AS (
           SELECT doc_id,
                  CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                    AS BIGINT) AS n_tokens
           FROM documents),
         g AS (
           SELECT doc_id, n_tokens,
                  CAST($PackBin // greatest(n_tokens, 1) AS BIGINT) AS k
           FROM d),
         rnk AS (
           SELECT doc_id, n_tokens, k,
                  CAST(ROW_NUMBER() OVER (PARTITION BY k ORDER BY doc_id)
                    AS BIGINT) AS rn
           FROM g),
         cls AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS nk FROM g GROUP BY k),
         koff AS (
           SELECT k,
                  CAST(COALESCE(SUM((nk + k - 1) // k) OVER (ORDER BY k
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS class_off
           FROM cls),
         assigned AS (
           SELECT r.doc_id, r.n_tokens, r.k, r.rn,
                  o.class_off + (r.rn - 1) // r.k AS bin
           FROM rnk r JOIN koff o ON o.k = r.k)"""

  val oracleSql: Map[String, String] = Map(
    "q_text_winnow" -> winnowOracle,
    "q_text_source_overlap" ->
      s"""WITH allfps AS ($winnowOracle),
         sfps AS (
           SELECT DISTINCT d.source, f.fingerprint
           FROM allfps f JOIN documents d USING (doc_id))
         SELECT a.source AS src_a, b.source AS src_b,
                COUNT(*) AS n_shared_fps
         FROM sfps a JOIN sfps b
           ON a.fingerprint = b.fingerprint AND a.source < b.source
         GROUP BY a.source, b.source""",
    "q_dedup_exact" ->
      """SELECT md5(LOWER(TRIM(text))) AS text_key,
                MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
         FROM documents GROUP BY md5(LOWER(TRIM(text)))""",
    "q_dedup_ngram_jaccard" -> jaccardPairsOracle(
      s"(SELECT * FROM documents ORDER BY doc_id LIMIT $NaiveJaccardCap)"),
    "q_dedup_containment" -> (containmentOracleCte + """
         SELECT doc_a, doc_b, n_shared, n_a, n_b, containment FROM ex"""),
    "q_dedup_containment_sketch" -> (containmentOracleCte + s""",
         bot AS (SELECT doc_id, list_sort(list(h)) AS hs FROM sh GROUP BY doc_id),
         sk AS (
           SELECT e.doc_a, e.doc_b, e.containment, e.n_a, e.n_b,
                  CASE WHEN e.n_a <= e.n_b THEN ba.hs ELSE bb.hs END AS hs_small,
                  CASE WHEN e.n_a <= e.n_b THEN bb.hs ELSE ba.hs END AS hs_big
           FROM ex e JOIN bot ba ON ba.doc_id = e.doc_a
                     JOIN bot bb ON bb.doc_id = e.doc_b)
         SELECT doc_a, doc_b, containment,
                CAST(len(list_intersect(hs_small[1:$ContainSketchK], hs_big))
                  AS BIGINT) AS m_sketch,
                CAST(len(list_intersect(hs_small[1:$ContainSketchK], hs_big))
                  AS DOUBLE) / least($ContainSketchK, least(n_a, n_b))
                  AS est_containment
         FROM sk"""),
    // identical output contract — the prefix filter is lossless
    "q_dedup_jaccard_ppjoin" -> jaccardPairsOracle("documents"),
    "q_dedup_minhash_lsh" -> (minhashOracleCte +
      """
         SELECT doc_a, doc_b FROM cand_pairs"""),
    "q_dedup_minhash_est_eval" -> (minhashOracleCte + {
      val eqSum = (0 until MinHashK)
        .map(i => s"CASE WHEN ma.h$i = mb.h$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s""",
         sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         inter AS (
           SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
           FROM cand_pairs c
           JOIN sh a ON a.doc_id = c.doc_a
           JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
           GROUP BY c.doc_a, c.doc_b),
         eqc AS (
           SELECT c.doc_a, c.doc_b, ($eqSum) AS n_eq
           FROM cand_pairs c
           JOIN mins ma ON ma.doc_id = c.doc_a
           JOIN mins mb ON mb.doc_id = c.doc_b)
         SELECT e.doc_a, e.doc_b,
                CAST(e.n_eq AS BIGINT) AS n_eq_components,
                CAST(e.n_eq AS DOUBLE) / $MinHashK AS est_jaccard,
                CAST(COALESCE(i.n_common, 0) AS BIGINT) AS n_common,
                CAST(COALESCE(i.n_common, 0) AS DOUBLE)
                  / (sa.n + sb.n - COALESCE(i.n_common, 0)) AS jaccard
         FROM eqc e
         LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
         JOIN sizes sa ON sa.doc_id = e.doc_a
         JOIN sizes sb ON sb.doc_id = e.doc_b"""
    }),
    "q_dedup_lsh_bucket_profile" -> (minhashOracleCte +
      s"""
         SELECT bucket_size, CAST(COUNT(*) AS BIGINT) AS n_buckets,
                bucket_size > ${graft.operators.LshBandJoin.DefaultMaxBucket}
                  AS star_degraded
         FROM (SELECT band_key,
                      CAST(COUNT(*) AS BIGINT) AS bucket_size
               FROM bands GROUP BY band_key)
         GROUP BY bucket_size"""),
    "q_dedup_simhash" -> simhashOracle,
    "q_dedup_components" ->
      (minhashOracleCte.replace("WITH sh AS", "WITH RECURSIVE sh AS") +
        """,
         pairs AS (SELECT doc_a, doc_b FROM cand_pairs),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                   UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs),
         reach AS (
           SELECT doc_id AS node, doc_id AS lbl FROM documents
           UNION
           SELECT e.src AS node, r.lbl AS lbl
           FROM edges e JOIN reach r ON e.dst = r.node)
         SELECT node AS doc_id, CAST(MIN(lbl) AS BIGINT) AS component,
                node = MIN(lbl) AS keep
         FROM reach GROUP BY node"""),
    // same closure + the shared quality formula; ROW_NUMBER picks the
    // canonical doc per component (quality DESC NULLS LAST, doc_id)
    "q_dedup_cluster_pick" ->
      (minhashOracleCte.replace("WITH sh AS", "WITH RECURSIVE sh AS") +
        """,
         pairs AS (SELECT doc_a, doc_b FROM cand_pairs),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                   UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs),
         reach AS (
           SELECT doc_id AS node, doc_id AS lbl FROM documents
           UNION
           SELECT e.src AS node, r.lbl AS lbl
           FROM edges e JOIN reach r ON e.dst = r.node),
         comps AS (
           SELECT node AS doc_id, CAST(MIN(lbl) AS BIGINT) AS component
           FROM reach GROUP BY node),
         q AS (
           SELECT doc_id,
                  (LEAST(n_tok, 100.0) / 100.0 + ttr + n_stop / n_tok
                   + CASE WHEN mean_wl >= 3.0 AND mean_wl <= 8.0
                          THEN 1.0 ELSE 0.0 END) / 4.0 AS q
           FROM (SELECT doc_id,
                        CAST(len(w) AS DOUBLE) AS n_tok,
                        CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS ttr,
                        CAST(len(list_filter(w,
                          x -> x IN ('the','a','of','and','to','in')))
                          AS DOUBLE) AS n_stop,
                        CAST(length(text) - (len(w) - 1) AS DOUBLE) / len(w)
                          AS mean_wl
                 FROM (SELECT doc_id, text,
                              regexp_split_to_array(trim(text), '\s+') AS w
                       FROM documents))),
         ranked AS (
           SELECT c.doc_id, c.component,
                  ROW_NUMBER() OVER (PARTITION BY c.component
                    ORDER BY q.q DESC NULLS LAST, c.doc_id) AS rn
           FROM comps c JOIN q ON q.doc_id = c.doc_id)
         SELECT doc_id, component, rn = 1 AS keep_best FROM ranked"""),
    // same closure, computed by min-label propagation — same oracle
    "q_dedup_components_minlabel" ->
      (minhashOracleCte.replace("WITH sh AS", "WITH RECURSIVE sh AS") +
        """,
         pairs AS (SELECT doc_a, doc_b FROM cand_pairs),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                   UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs),
         reach AS (
           SELECT doc_id AS node, doc_id AS lbl FROM documents
           UNION
           SELECT e.src AS node, r.lbl AS lbl
           FROM edges e JOIN reach r ON e.dst = r.node)
         SELECT node AS doc_id, CAST(MIN(lbl) AS BIGINT) AS component,
                node = MIN(lbl) AS keep
         FROM reach GROUP BY node"""),
    "q_text_token_stats" ->
      """SELECT doc_id,
                CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
                CAST(len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_distinct_tokens,
                CAST(len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS DOUBLE)
                  / len(regexp_split_to_array(trim(text), '\s+')) AS type_token_ratio,
                CAST(length(text) AS BIGINT) AS n_chars_obs,
                CAST(CEIL(length(text) / 4.0) AS BIGINT) AS est_bpe_tokens,
                CAST(len(regexp_extract_all(text,
                  '[A-Za-z]{1,4}|[0-9]{1,3}|[^A-Za-z0-9\s]')) AS BIGINT)
                  AS n_subword_tokens
         FROM documents""",
    "q_text_quality" -> qualityOracle,
    "q_text_quality_calibrated" ->
      s"""WITH qual AS ($qualityOracle),
         sc AS (SELECT doc_id, source,
                       CAST(FLOOR(quality_score * 1000.0) AS BIGINT)
                         AS score_milli
                FROM qual),
         hist AS (SELECT source, score_milli,
                         CAST(COUNT(*) AS BIGINT) AS eq
                  FROM sc GROUP BY source, score_milli),
         stats AS (SELECT source, score_milli, eq,
                          CAST(SUM(eq) OVER (PARTITION BY source
                            ORDER BY score_milli) - eq AS BIGINT) AS below,
                          CAST(SUM(eq) OVER (PARTITION BY source)
                            AS BIGINT) AS n_source
                   FROM hist)
         SELECT doc_id, sc.source, sc.score_milli,
                CAST((1000000 * (2*below + eq + 1)) // (2*n_source)
                  AS BIGINT) AS pct_rank_micro,
                (1000000 * (2*below + eq + 1)) // (2*n_source) >= 200000
                  AS calibrated_keep
         FROM sc JOIN stats ON sc.source = stats.source
                           AND sc.score_milli = stats.score_milli""",
    "q_text_ccnet_buckets" ->
      """WITH w AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
           FROM documents),
         big AS (
           SELECT doc_id, w[i] AS w1, w[i+1] AS w2
           FROM (SELECT doc_id, w,
                        unnest(range(1, greatest(len(w)-1,0)+1)) AS i
                 FROM w)),
         c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM big GROUP BY w1, w2),
         c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY w1),
         v AS (SELECT COUNT(DISTINCT x) AS v FROM (
                 SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS x
                 FROM documents)),
         sc AS (
           SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                  CAST(SUM(CAST(floor(log2(
                      (CAST(c1.c1 AS DOUBLE) + v.v)
                      / (CAST(c2.c2 AS DOUBLE) + 1.0)) * 1000000)
                    AS BIGINT)) AS BIGINT) AS sum_nll_micro
           FROM big b JOIN c2 ON c2.w1 = b.w1 AND c2.w2 = b.w2
                      JOIN c1 ON c1.w1 = b.w1
                      CROSS JOIN v
           GROUP BY b.doc_id),
         scored AS (
           SELECT d.doc_id, d.lang,
                  CAST(CASE WHEN COALESCE(sc.n_bigrams, 0) = 0 THEN 0
                       ELSE sc.sum_nll_micro // (sc.n_bigrams * 1000) END
                    AS BIGINT) AS bits_milli
           FROM documents d LEFT JOIN sc USING (doc_id)),
         hist AS (
           SELECT lang, bits_milli, CAST(COUNT(*) AS BIGINT) AS eq
           FROM scored GROUP BY lang, bits_milli),
         stats AS (
           SELECT lang, bits_milli, eq,
                  CAST(SUM(eq) OVER (PARTITION BY lang
                    ORDER BY bits_milli) - eq AS BIGINT) AS below,
                  CAST(SUM(eq) OVER (PARTITION BY lang) AS BIGINT) AS n_part
           FROM hist)
         SELECT s.doc_id, s.lang, s.bits_milli,
                CAST((1000000 * (2*below + eq + 1)) // (2*n_part)
                  AS BIGINT) AS pct_rank_micro,
                CASE WHEN (1000000 * (2*below + eq + 1)) // (2*n_part) * 3
                          < 1000000 THEN 'head'
                     WHEN (1000000 * (2*below + eq + 1)) // (2*n_part) * 3
                          < 2000000 THEN 'middle'
                     ELSE 'tail' END AS ccnet_bucket
         FROM scored s JOIN stats ON s.lang = stats.lang
                                 AND s.bits_milli = stats.bits_milli""",
    "q_text_top_ngram_mass" ->
      """WITH b AS (
           SELECT doc_id,
                  list_sort(list_transform(range(1, greatest(len(w)-1,0)+1),
                    i -> array_to_string(w[i:i+1], ' '))) AS s
           FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
                 FROM documents)),
         r AS (
           SELECT doc_id, s, len(s) AS n,
                  list_filter(range(1, len(s)+1),
                    i -> s[i] IS DISTINCT FROM s[i+1]) AS ends
           FROM b),
         c AS (
           SELECT doc_id, n,
                  list_transform(range(1, len(ends)+1),
                    j -> ends[j] - CASE WHEN j = 1 THEN 0
                                        ELSE ends[j-1] END) AS cs
           FROM r),
         m AS (SELECT doc_id, n, COALESCE(list_max(cs), 0) AS top FROM c)
         SELECT doc_id, CAST(n AS BIGINT) AS n_bigrams,
                CAST(top AS BIGINT) AS top_bigram_count,
                CASE WHEN n > 0 THEN CAST(top AS DOUBLE) / n
                     ELSE 0.0 END AS top_bigram_mass,
                (CASE WHEN n > 0 THEN CAST(top AS DOUBLE) / n
                      ELSE 0.0 END) > 0.10 AS is_repetitive
         FROM m""",
    "q_text_gopher_rules" ->
      """WITH f AS (
           SELECT doc_id,
                  CAST(len(w) AS BIGINT) AS n_words,
                  CAST(length(text) - (len(w) - 1) AS DOUBLE) / len(w)
                    AS mean_wl,
                  CAST(len(list_filter(w,
                    x -> x IN ('the','a','of','and','to','in')))
                    AS BIGINT) AS n_stop,
                  CAST(len(list_filter(w,
                    x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS n_alpha,
                  CAST(length(text) - length(replace(text, '#', ''))
                    AS BIGINT) AS n_hash
           FROM (SELECT doc_id, text,
                        regexp_split_to_array(trim(text), '\s+') AS w
                 FROM documents)),
         m AS (
           SELECT doc_id, n_words, mean_wl, n_stop, n_alpha, n_hash,
                  CASE WHEN n_words > 0
                       THEN CAST(n_alpha AS DOUBLE) / n_words
                       ELSE 0.0 END AS alpha_frac,
                  CASE WHEN n_words > 0
                       THEN CAST(n_hash AS DOUBLE) / n_words
                       ELSE 0.0 END AS hash_ratio
           FROM f)
         SELECT doc_id, n_words, mean_wl, n_stop, n_alpha, n_hash,
                alpha_frac, hash_ratio,
                (n_words >= 50 AND n_words <= 100000) AS r_words,
                (mean_wl >= 3.0 AND mean_wl <= 10.0) AS r_mean_wl,
                (alpha_frac >= 0.8) AS r_alpha,
                (n_stop >= 2) AS r_stop,
                (hash_ratio <= 0.1) AS r_hash,
                ((n_words >= 50 AND n_words <= 100000)
                 AND (mean_wl >= 3.0 AND mean_wl <= 10.0)
                 AND alpha_frac >= 0.8 AND n_stop >= 2
                 AND hash_ratio <= 0.1) AS gopher_pass
         FROM m""",
    "q_qa_drift_chi2" ->
      s"""WITH qual AS ($qualityOracle),
         b AS (
           SELECT source,
                  CASE WHEN quality_score IS NULL THEN -1
                       ELSE LEAST(CAST(floor(quality_score * 10) AS BIGINT),
                         10) END AS bucket,
                  (doc_id % 10 = 0) AS is_new
           FROM qual),
         cells AS (
           SELECT source, bucket,
                  CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS o,
                  CAST(SUM(CASE WHEN is_new THEN 0 ELSE 1 END) AS BIGINT) AS c
           FROM b GROUP BY source, bucket),
         tot AS (
           SELECT source, bucket, o, c,
                  SUM(o) OVER (PARTITION BY source) AS nb,
                  SUM(c) OVER (PARTITION BY source) AS nc
           FROM cells),
         t AS (
           SELECT source, bucket, o AS n_batch, c AS n_corpus,
                  CASE WHEN nc > 0 AND nb > 0 THEN CAST(floor(
                    (CAST(o AS DOUBLE)
                       - CAST(c + 1 AS DOUBLE) * CAST(nb AS DOUBLE)
                         / CAST(nc AS DOUBLE))
                    * (CAST(o AS DOUBLE)
                       - CAST(c + 1 AS DOUBLE) * CAST(nb AS DOUBLE)
                         / CAST(nc AS DOUBLE))
                    / (CAST(c + 1 AS DOUBLE) * CAST(nb AS DOUBLE)
                       / CAST(nc AS DOUBLE))
                    * 1000000.0) AS BIGINT) END AS term_micro
           FROM tot)
         SELECT source, bucket, n_batch, n_corpus, term_micro,
                CAST(SUM(term_micro) OVER (PARTITION BY source) AS BIGINT)
                  AS chi2_micro
         FROM t""",
    "q_text_dup_spans" ->
      """WITH w AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
           FROM documents),
         pos AS (
           SELECT doc_id, i,
                  CAST(CONCAT('0x', SUBSTRING(md5(array_to_string(w[i:i+7],
                    ' ')),1,15)) AS BIGINT) AS h
           FROM (SELECT doc_id, w,
                        unnest(range(1, greatest(len(w)-7,0)+1)) AS i
                 FROM w)),
         dup AS (SELECT h FROM pos GROUP BY h HAVING COUNT(*) >= 2),
         marked AS (SELECT pos.doc_id, pos.i
                    FROM pos JOIN dup ON dup.h = pos.h),
         isl AS (
           SELECT doc_id, i,
                  i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i)
                    AS grp
           FROM marked)
         SELECT doc_id, CAST(MIN(i) AS BIGINT) AS span_start,
                CAST(COUNT(*) AS BIGINT) AS n_windows,
                CAST(COUNT(*) + 7 AS BIGINT) AS span_words
         FROM isl GROUP BY doc_id, grp""",
    "q_text_dup_spans_incremental" ->
      """WITH w AS MATERIALIZED (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
           FROM documents),
         pos AS MATERIALIZED (
           SELECT doc_id, i,
                  CAST(CONCAT('0x', SUBSTRING(md5(array_to_string(w[i:i+7],
                    ' ')),1,15)) AS BIGINT) AS h
           FROM (SELECT doc_id, w,
                        unnest(range(1, greatest(len(w)-7,0)+1)) AS i
                 FROM w)),
         bpos AS (SELECT * FROM pos WHERE doc_id % 10 = 0),
         cidx AS (SELECT DISTINCT h FROM pos WHERE doc_id % 10 <> 0),
         bdup AS (SELECT h FROM bpos GROUP BY h HAVING COUNT(*) >= 2),
         marked AS (
           SELECT DISTINCT b.doc_id, b.i
           FROM bpos b
           LEFT JOIN cidx c ON c.h = b.h
           LEFT JOIN bdup d ON d.h = b.h
           WHERE c.h IS NOT NULL OR d.h IS NOT NULL),
         isl AS (
           SELECT doc_id, i,
                  i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i)
                    AS grp
           FROM marked)
         SELECT doc_id, CAST(MIN(i) AS BIGINT) AS span_start,
                CAST(COUNT(*) AS BIGINT) AS n_windows,
                CAST(COUNT(*) + 7 AS BIGINT) AS span_words
         FROM isl GROUP BY doc_id, grp""",
    "q_text_strip_dup_spans" ->
      """WITH w AS MATERIALIZED (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
           FROM documents),
         pos AS MATERIALIZED (
           SELECT doc_id, i,
                  CAST(CONCAT('0x', SUBSTRING(md5(array_to_string(w[i:i+7],
                    ' ')),1,15)) AS BIGINT) AS h
           FROM (SELECT doc_id, w,
                        unnest(range(1, greatest(len(w)-7,0)+1)) AS i
                 FROM w)),
         dup AS (SELECT h FROM pos GROUP BY h HAVING COUNT(*) >= 2),
         cov AS (
           SELECT DISTINCT doc_id, i FROM (
             SELECT pos.doc_id, unnest(range(pos.i, pos.i + 8)) AS i
             FROM pos JOIN dup ON dup.h = pos.h)),
         toks AS (
           SELECT doc_id, i, w[i] AS tok
           FROM (SELECT doc_id, w, unnest(range(1, len(w)+1)) AS i FROM w)),
         kept AS (
           SELECT t.doc_id, t.i, t.tok
           FROM toks t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.i = t.i
           WHERE c.i IS NULL),
         agg AS (
           SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
                  string_agg(tok, ' ' ORDER BY i) AS clean_text
           FROM kept GROUP BY doc_id)
         SELECT d.doc_id, COALESCE(agg.clean_text, '') AS clean_text,
                CAST(COALESCE(agg.n_kept, 0) AS BIGINT) AS n_kept_tokens
         FROM (SELECT doc_id FROM documents) d LEFT JOIN agg USING (doc_id)""",
    "q_text_entropy" ->
      """WITH base AS (
           SELECT doc_id,
                  list_sort(regexp_split_to_array(trim(text), '\s+')) AS s,
                  len(regexp_split_to_array(trim(text), '\s+')) AS n
           FROM documents),
         runs AS (
           SELECT doc_id, n,
                  list_filter(range(1, n+1),
                    i -> s[i] IS DISTINCT FROM s[i+1]) AS ends
           FROM base),
         lens AS (
           SELECT doc_id, n,
                  list_transform(range(1, len(ends)+1),
                    j -> ends[j] - CASE WHEN j = 1 THEN 0
                                        ELSE ends[j-1] END) AS cs
           FROM runs)
         SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
                CAST(len(cs) AS BIGINT) AS n_distinct_tokens,
                CAST(list_sum(list_transform(cs,
                  c -> CAST(floor(c * log2(c) * 1000000) AS BIGINT)))
                  AS BIGINT) AS sum_clogc_micro,
                CAST((CAST(floor(log2(n) * 1000000) AS BIGINT) * n
                      - list_sum(list_transform(cs,
                          c -> CAST(floor(c * log2(c) * 1000000) AS BIGINT))))
                     AS DOUBLE) / (n * 1000000.0) AS entropy_bits,
                CAST((CAST(floor(log2(n) * 1000000) AS BIGINT) * n
                      - list_sum(list_transform(cs,
                          c -> CAST(floor(c * log2(c) * 1000000) AS BIGINT))))
                     AS DOUBLE) / (n * 1000000.0) < 3.0 AS is_low_entropy
         FROM lens""",
    "q_text_bpe_encode" ->
      s"""WITH enc AS (
           SELECT doc_id, $bpeOracleEncExpr AS enc FROM documents)
         SELECT doc_id,
                CAST((length(enc) - length(replace(enc, '|', ''))) // 2
                  AS BIGINT) AS n_tokens,
                md5(enc) AS enc_md5
         FROM enc""",
    "q_text_bpe_token_stats" ->
      s"""WITH enc AS (
           SELECT source, $bpeOracleEncExpr AS enc FROM documents),
         per_doc AS (
           SELECT source,
                  (length(enc) - length(replace(enc, '|', ''))) // 2 AS toks,
                  length(replace(replace(enc, '|', ''), '#', '')) AS chs
           FROM enc)
         SELECT source, COUNT(*) AS n_docs,
                CAST(SUM(toks) AS BIGINT) AS n_tokens,
                CAST(SUM(chs) AS BIGINT) AS n_chars,
                CAST(floor((SUM(chs) * 1000) / SUM(toks)) AS BIGINT)
                  AS chars_per_ktok
         FROM per_doc GROUP BY source""",
    "q_text_bpe_pairs" ->
      """WITH wf AS (
           SELECT w AS word, COUNT(*) AS freq FROM (
             SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
             FROM documents) GROUP BY w),
         pairs AS (
           SELECT unnest(list_transform(range(1, length(word)),
                    i -> substr(word, CAST(i AS INT), 2))) AS pair, freq
           FROM wf WHERE length(word) >= 2)
         SELECT pair, CAST(SUM(freq) AS BIGINT) AS n
         FROM pairs GROUP BY pair""",
    "q_pack_length_buckets" ->
      """WITH toks AS (
           SELECT doc_id,
                  CAST(len(regexp_split_to_array(trim(text), '\s+'))
                    AS BIGINT) AS n_tokens
           FROM documents),
         b AS (
           SELECT doc_id, n_tokens,
                  least(n_tokens // 32, 15) AS bucket
           FROM toks),
         r AS (
           SELECT bucket, n_tokens,
                  (ROW_NUMBER() OVER (PARTITION BY bucket
                    ORDER BY n_tokens, doc_id) - 1) // 8 AS batch
           FROM b)
         SELECT CAST(bucket AS BIGINT) AS bucket,
                CAST(batch AS BIGINT) AS batch,
                COUNT(*) AS n_docs,
                CAST(MAX(n_tokens) AS BIGINT) AS max_len,
                CAST(SUM(n_tokens) AS BIGINT) AS sum_len,
                CAST(COUNT(*) * MAX(n_tokens) - SUM(n_tokens) AS BIGINT)
                  AS pad_tokens,
                CAST(SUM(n_tokens) AS DOUBLE)
                  / (COUNT(*) * MAX(n_tokens)) AS efficiency
         FROM r GROUP BY bucket, batch""",
    "q_shuffle_epochs" ->
      """WITH e AS (
           SELECT doc_id, epoch
           FROM (SELECT doc_id FROM documents)
           CROSS JOIN (SELECT unnest([1, 2]) AS epoch)),
         k AS (
           SELECT doc_id, epoch,
                  CAST(CONCAT('0x', SUBSTRING(md5(CONCAT('ep', epoch, ':',
                    doc_id)),1,15)) AS BIGINT) AS h
           FROM e)
         SELECT doc_id, CAST(epoch AS BIGINT) AS epoch,
                CAST(ROW_NUMBER() OVER (PARTITION BY epoch
                  ORDER BY h, doc_id) AS BIGINT) AS shuffle_pos
         FROM k""",
    "q_sample_token_budget" ->
      """WITH toks AS (
           SELECT doc_id, source,
                  CAST(len(regexp_split_to_array(trim(text), '\s+'))
                    AS BIGINT) AS n_tokens
           FROM documents),
         rates AS (
           SELECT source, SUM(n_tokens) AS avail_tokens,
                  CAST(10000 * (1 + CAST(CONCAT('0x',
                    SUBSTRING(md5(source),1,2)) AS BIGINT) % 8)
                    AS BIGINT) AS budget_tokens
           FROM toks GROUP BY source)
         SELECT t.doc_id, t.source, t.n_tokens,
                CAST(r.avail_tokens AS BIGINT) AS avail_tokens,
                r.budget_tokens,
                CAST(r.budget_tokens * 1000000 // r.avail_tokens
                  AS BIGINT) AS repeat_ppm,
                CAST((r.budget_tokens * 1000000 // r.avail_tokens) // 1000000
                  + CASE WHEN CAST(CONCAT('0x', SUBSTRING(md5(CONCAT(
                           t.source, ':', t.doc_id)),1,15)) AS BIGINT)
                           % 1000000
                         < (r.budget_tokens * 1000000 // r.avail_tokens)
                           % 1000000
                    THEN 1 ELSE 0 END AS BIGINT) AS n_copies
         FROM toks t JOIN rates r ON r.source = t.source""",
    "q_sample_pps_systematic" ->
      """WITH w AS (
           SELECT doc_id,
                  CAST(COALESCE(n_chars, 0) AS BIGINT) AS w,
                  COALESCE(SUM(CAST(COALESCE(n_chars, 0) AS BIGINT))
                    OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS cum_lo,
                  SUM(CAST(COALESCE(n_chars, 0) AS BIGINT)) OVER ()
                    AS wtot
           FROM documents),
         p AS (
           SELECT doc_id, w, cum_lo, cum_lo + w AS cum_hi,
                  wtot // 10 AS stride, (wtot // 10) // 2 AS off
           FROM w)
         SELECT doc_id, w,
                CAST((CASE WHEN cum_hi <= off THEN 0
                      ELSE LEAST(10, (cum_hi - off + stride - 1) // stride)
                      END)
                   - (CASE WHEN cum_lo <= off THEN 0
                      ELSE LEAST(10, (cum_lo - off + stride - 1) // stride)
                      END) AS BIGINT) AS n_hits
         FROM p
         WHERE (CASE WHEN cum_hi <= off THEN 0
                ELSE LEAST(10, (cum_hi - off + stride - 1) // stride) END)
             - (CASE WHEN cum_lo <= off THEN 0
                ELSE LEAST(10, (cum_lo - off + stride - 1) // stride) END)
               > 0""",
    "q_text_quality_classifier" ->
      """WITH d AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
           FROM documents),
         feat AS (
           SELECT doc_id,
                  CASE WHEN (CASE WHEN greatest(len(w)-2,0) = 0 THEN 0.0
                        ELSE 1.0 - CAST(len(list_distinct(list_transform(
                               range(1, greatest(len(w)-2,0)+1),
                               i -> array_to_string(w[i:i+2], ' '))))
                             AS DOUBLE) / greatest(len(w)-2,0) END) > 0.2
                       THEN 1.0 ELSE 0.0 END AS y,
                  CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS f1,
                  least(len(w), 512) / 512.0 AS f2
           FROM d),
         n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM feat),
         e1 AS (
           SELECT y, f1, f2,
                  (0.5 + ((0.0 + f1*0.0) + f2*0.0)
                    / (2.0*(1.0 + abs((0.0 + f1*0.0) + f2*0.0)))) - y AS err
           FROM feat),
         w1 AS (
           SELECT
             0.0 - 1.0 * (CAST(SUM(CAST(floor(err*1000000000.0) AS BIGINT))
                   AS DOUBLE)/1000000000.0) / n.c AS b,
             0.0 - 1.0 * (CAST(SUM(CAST(floor((err*f1)*1000000000.0)
                   AS BIGINT)) AS DOUBLE)/1000000000.0) / n.c AS wf1,
             0.0 - 1.0 * (CAST(SUM(CAST(floor((err*f2)*1000000000.0)
                   AS BIGINT)) AS DOUBLE)/1000000000.0) / n.c AS wf2
           FROM e1 CROSS JOIN n GROUP BY n.c),
         e2 AS (
           SELECT y, f1, f2,
                  (0.5 + ((w1.b + f1*w1.wf1) + f2*w1.wf2)
                    / (2.0*(1.0 + abs((w1.b + f1*w1.wf1) + f2*w1.wf2))))
                    - y AS err
           FROM feat CROSS JOIN w1),
         w2 AS (
           SELECT
             w1.b - 1.0 * (CAST(SUM(CAST(floor(err*1000000000.0) AS BIGINT))
                   AS DOUBLE)/1000000000.0) / n.c AS b,
             w1.wf1 - 1.0 * (CAST(SUM(CAST(floor((err*f1)*1000000000.0)
                   AS BIGINT)) AS DOUBLE)/1000000000.0) / n.c AS wf1,
             w1.wf2 - 1.0 * (CAST(SUM(CAST(floor((err*f2)*1000000000.0)
                   AS BIGINT)) AS DOUBLE)/1000000000.0) / n.c AS wf2
           FROM e2 CROSS JOIN w1 CROSS JOIN n
           GROUP BY w1.b, w1.wf1, w1.wf2, n.c),
         e3 AS (
           SELECT y, f1, f2,
                  (0.5 + ((w2.b + f1*w2.wf1) + f2*w2.wf2)
                    / (2.0*(1.0 + abs((w2.b + f1*w2.wf1) + f2*w2.wf2))))
                    - y AS err
           FROM feat CROSS JOIN w2),
         w3 AS (
           SELECT
             w2.b - 1.0 * (CAST(SUM(CAST(floor(err*1000000000.0) AS BIGINT))
                   AS DOUBLE)/1000000000.0) / n.c AS b,
             w2.wf1 - 1.0 * (CAST(SUM(CAST(floor((err*f1)*1000000000.0)
                   AS BIGINT)) AS DOUBLE)/1000000000.0) / n.c AS wf1,
             w2.wf2 - 1.0 * (CAST(SUM(CAST(floor((err*f2)*1000000000.0)
                   AS BIGINT)) AS DOUBLE)/1000000000.0) / n.c AS wf2
           FROM e3 CROSS JOIN w2 CROSS JOIN n
           GROUP BY w2.b, w2.wf1, w2.wf2, n.c)
         SELECT feat.doc_id, CAST(feat.y AS BIGINT) AS label,
                w3.b AS w_b, w3.wf1 AS w_f1, w3.wf2 AS w_f2,
                CAST(floor(((w3.b + feat.f1*w3.wf1) + feat.f2*w3.wf2)
                  * 1000000.0) AS BIGINT) AS logit_micro,
                ((w3.b + feat.f1*w3.wf1) + feat.f2*w3.wf2) > 0 AS pred
         FROM feat CROSS JOIN w3""",
    "q_text_lm_perplexity" ->
      """WITH w AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
           FROM documents),
         big AS (
           SELECT doc_id, w[i] AS w1, w[i+1] AS w2
           FROM (SELECT doc_id, w,
                        unnest(range(1, greatest(len(w)-1,0)+1)) AS i
                 FROM w)),
         c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM big GROUP BY w1, w2),
         c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY w1),
         v AS (SELECT COUNT(DISTINCT x) AS v FROM (
                 SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS x
                 FROM documents)),
         sc AS (
           SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                  CAST(SUM(CAST(floor(log2(
                      (CAST(c1.c1 AS DOUBLE) + v.v)
                      / (CAST(c2.c2 AS DOUBLE) + 1.0)) * 1000000)
                    AS BIGINT)) AS BIGINT) AS sum_nll_micro
           FROM big b JOIN c2 ON c2.w1 = b.w1 AND c2.w2 = b.w2
                      JOIN c1 ON c1.w1 = b.w1
                      CROSS JOIN v
           GROUP BY b.doc_id)
         SELECT d.doc_id,
                COALESCE(sc.n_bigrams, 0) AS n_bigrams,
                COALESCE(sc.sum_nll_micro, 0) AS sum_nll_micro,
                CASE WHEN sc.n_bigrams IS NULL THEN 0.0
                     ELSE CAST(sc.sum_nll_micro AS DOUBLE)
                          / (sc.n_bigrams * 1000000.0) END AS bits_per_bigram,
                CASE WHEN sc.n_bigrams IS NULL THEN 0.0
                     ELSE CAST(sc.sum_nll_micro AS DOUBLE)
                          / (sc.n_bigrams * 1000000.0) END > 5.0
                  AS is_high_ppl
         FROM (SELECT doc_id FROM documents) d LEFT JOIN sc USING (doc_id)""",
    "q_text_repeated_ngrams" ->
      """WITH sh AS (
           SELECT DISTINCT doc_id, s FROM (
             SELECT doc_id, unnest(list_transform(range(1, greatest(len(w)-7,0)+1),
                    i -> array_to_string(w[i:i+7], ' '))) AS s
             FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
                   FROM documents))),
         rep AS (
           SELECT s, 1 AS one FROM sh GROUP BY s HAVING COUNT(*) >= 2)
         SELECT sh.doc_id,
                CAST(COUNT(*) AS BIGINT) AS n_ngrams,
                CAST(SUM(CASE WHEN rep.one IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_repeated,
                CAST(SUM(CASE WHEN rep.one IS NOT NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*) AS dup_ratio
         FROM sh LEFT JOIN rep ON rep.s = sh.s
         GROUP BY sh.doc_id""",
    "q_text_redact_pii" ->
      """WITH seeded AS (
           SELECT doc_id, source,
                  CASE WHEN doc_id % 7 = 0
                       THEN CONCAT(text, ' contact user', doc_id,
                                   '@example.com tel 555-',
                                   LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0'))
                       ELSE text END AS text
           FROM documents)
         SELECT doc_id, source,
                CAST(len(regexp_extract_all(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
                  AS n_emails,
                CAST(len(regexp_extract_all(text, '\b555-[0-9]{4}\b'))
                  AS BIGINT) AS n_phones,
                regexp_replace(regexp_replace(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                  '<EMAIL>', 'g'),
                  '\b555-[0-9]{4}\b', '<PHONE>', 'g') AS redacted
         FROM seeded""",
    // same quality formula; bucketed Mann-Whitney with tie correction
    "q_text_quality_auc" ->
      """WITH f AS (
           SELECT lang,
                  CAST(len(w) AS DOUBLE) AS n_tok,
                  CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS ttr,
                  CAST(len(list_filter(w, x -> x IN ('the','a','of','and','to','in')))
                    AS DOUBLE) AS n_stop,
                  CAST(length(text) - (len(w) - 1) AS DOUBLE) / len(w) AS mean_wl
           FROM (SELECT lang, text,
                        regexp_split_to_array(trim(text), '\s+') AS w
                 FROM documents)),
         b AS (
           SELECT CAST(FLOOR(((LEAST(n_tok, 100.0) / 100.0 + ttr + n_stop / n_tok
                    + CASE WHEN mean_wl >= 3.0 AND mean_wl <= 8.0
                           THEN 1.0 ELSE 0.0 END) / 4.0) * 1000000) AS BIGINT)
                    AS qs,
                  SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS npos,
                  SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS nneg
           FROM f
           WHERE n_tok > 0
           GROUP BY 1),
         c AS (
           SELECT qs, npos, nneg,
                  COALESCE(SUM(nneg) OVER (ORDER BY qs
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS cumneg
           FROM b),
         agg AS (
           SELECT CAST(SUM(npos) AS BIGINT) AS n_pos,
                  CAST(SUM(nneg) AS BIGINT) AS n_neg,
                  CAST(SUM((2 * cumneg + nneg) * npos) AS BIGINT) AS u2
           FROM c)
         SELECT n_pos, n_neg, u2,
                CAST((1000000 * u2) // (2 * n_pos * n_neg) AS BIGINT)
                  AS auc_micro
         FROM agg""",
    "q_text_decontaminate" ->
      s"""WITH allfps AS ($winnowOracle),
         bench AS (
           SELECT DISTINCT fingerprint FROM allfps WHERE doc_id % 100 = 7),
         ov AS (
           SELECT f.doc_id, COUNT(*) AS n_overlap
           FROM allfps f JOIN bench b ON f.fingerprint = b.fingerprint
           GROUP BY f.doc_id)
         SELECT d.doc_id,
                COALESCE(ov.n_overlap, 0) AS n_overlap,
                COALESCE(ov.n_overlap, 0) >= 3 AND d.doc_id % 100 <> 7
                  AS is_contaminated
         FROM documents d LEFT JOIN ov ON ov.doc_id = d.doc_id""",
    "q_text_quality_stratified" ->
      """WITH q AS (
           SELECT doc_id, source,
                  (LEAST(n_tok, 100.0) / 100.0 + ttr + n_stop / n_tok
                   + CASE WHEN mean_wl >= 3.0 AND mean_wl <= 8.0
                          THEN 1.0 ELSE 0.0 END) / 4.0 AS q
           FROM (SELECT doc_id, source,
                        CAST(len(w) AS DOUBLE) AS n_tok,
                        CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS ttr,
                        CAST(len(list_filter(w,
                          x -> x IN ('the','a','of','and','to','in')))
                          AS DOUBLE) AS n_stop,
                        CAST(length(text) - (len(w) - 1) AS DOUBLE) / len(w)
                          AS mean_wl
                 FROM (SELECT doc_id, source, text,
                              regexp_split_to_array(trim(text), '\s+') AS w
                       FROM documents))),
         ranked AS (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                       ORDER BY q ASC NULLS LAST, doc_id) AS rn,
                  COUNT(*) OVER (PARTITION BY source) AS n
           FROM q),
         thr AS (
           SELECT source, q AS q_p25 FROM ranked
           WHERE rn = CAST(CEIL(n / 4.0) AS BIGINT))
         SELECT q.doc_id, q.source, q.q AS quality_score
         FROM q JOIN thr USING (source) WHERE q.q >= thr.q_p25""",
    "q_text_rarity" ->
      """WITH tok AS (
           SELECT doc_id, t AS tok FROM (
             SELECT doc_id,
                    unnest(regexp_split_to_array(trim(text), '\s+')) AS t
             FROM documents)
           WHERE length(t) > 0),
         freq AS (SELECT tok, COUNT(*) AS tok_freq FROM tok GROUP BY tok)
         SELECT doc_id,
                CAST(COUNT(*) AS BIGINT) AS n_tokens,
                CAST(SUM(tok_freq) AS BIGINT) AS freq_sum,
                CAST(SUM(tok_freq) AS DOUBLE) / COUNT(*) AS mean_tok_freq
         FROM tok JOIN freq USING (tok) GROUP BY doc_id""",
    "q_dedup_incremental" -> (minhashOracleCte +
      """,
         corpus_keys AS (
           SELECT DISTINCT md5(LOWER(TRIM(text))) AS text_key
           FROM documents WHERE doc_id % 10 <> 0),
         corpus_bands AS (
           SELECT DISTINCT band_key FROM bands WHERE doc_id % 10 <> 0),
         near_docs AS (
           SELECT DISTINCT b.doc_id FROM bands b
           JOIN corpus_bands cb ON b.band_key = cb.band_key
           WHERE b.doc_id % 10 = 0)
         -- LEFT JOIN + IS NOT NULL mirrors the Spark side's null
         -- semantics: a NULL text_key (null text) is NOT a dup, where
         -- `md5(...) IN (subquery)` would yield NULL instead of false
         SELECT d.doc_id,
                ck.text_key IS NOT NULL AS exact_dup,
                nd.doc_id IS NOT NULL AS near_dup,
                ck.text_key IS NULL AND nd.doc_id IS NULL AS keep
         FROM documents d
         LEFT JOIN corpus_keys ck ON md5(LOWER(TRIM(d.text))) = ck.text_key
         LEFT JOIN near_docs nd ON d.doc_id = nd.doc_id
         WHERE d.doc_id % 10 = 0"""),
    // the Bloom path is exact end-to-end (no false negatives; false
    // positives removed by the confirm join), so its oracle is the same
    // SQL as the exact decontamination
    "q_text_decontaminate_bloom" ->
      s"""WITH allfps AS ($winnowOracle),
         bench AS (
           SELECT DISTINCT fingerprint FROM allfps WHERE doc_id % 100 = 7),
         ov AS (
           SELECT f.doc_id, COUNT(*) AS n_overlap
           FROM allfps f JOIN bench b ON f.fingerprint = b.fingerprint
           GROUP BY f.doc_id)
         SELECT d.doc_id,
                COALESCE(ov.n_overlap, 0) AS n_overlap,
                COALESCE(ov.n_overlap, 0) >= 3 AND d.doc_id % 100 <> 7
                  AS is_contaminated
         FROM documents d LEFT JOIN ov ON ov.doc_id = d.doc_id""",
    "q_text_repetition" ->
      """WITH d AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
           FROM documents),
         tot AS (
           SELECT doc_id,
                  CAST(GREATEST(len(w) - 2, 0) AS BIGINT) AS n_shingles,
                  CAST(len(list_distinct(list_transform(
                    range(1, greatest(len(w)-2, 0) + 1),
                    i -> array_to_string(w[i:i+2], ' ')))) AS BIGINT)
                    AS n_distinct_shingles
           FROM d),
         f AS (
           SELECT doc_id, n_shingles, n_distinct_shingles,
                  CASE WHEN n_shingles = 0 THEN 0.0
                       ELSE 1.0 - CAST(n_distinct_shingles AS DOUBLE) / n_shingles
                  END AS dup_shingle_fraction
           FROM tot)
         SELECT doc_id, n_shingles, n_distinct_shingles, dup_shingle_fraction,
                dup_shingle_fraction > 0.2 AS is_repetitive
         FROM f""",
    "q_sample_mixture" ->
      """WITH w AS (
           SELECT 'src' || CAST(i AS VARCHAR) AS source,
                  CAST((i % 4 + 1) * 25 AS BIGINT) AS keep_pct
           FROM range(20) t(i)),
         b AS (
           SELECT d.source, d.doc_id, w.keep_pct,
                  CAST(CONCAT('0x', SUBSTRING(md5(d.source || ':' ||
                       CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100
                    AS bucket
           FROM documents d JOIN w ON w.source = d.source)
         SELECT source, doc_id, keep_pct, bucket, bucket < keep_pct AS keep
         FROM b""",
    "q_sample_temperature" ->
      """WITH c AS (
           SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents
           GROUP BY lang),
         tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS big_n FROM documents),
         wq AS (
           SELECT lang, n, big_n,
                  CAST(FLOOR(SQRT(CAST(n AS DOUBLE) / big_n) * 1e9)
                       AS BIGINT) AS wq
           FROM c, tot),
         sw AS (SELECT CAST(SUM(wq) AS BIGINT) AS sw FROM wq),
         r AS (
           SELECT lang,
                  CAST(wq * big_n AS DOUBLE) / CAST(sw * n AS DOUBLE) AS rate
           FROM wq, sw)
         SELECT d.doc_id, d.lang,
                CAST(FLOOR(rate) AS BIGINT)
                + CASE WHEN CAST(CONCAT('0x', SUBSTRING(md5('t:' ||
                            CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                            % 10000
                       < CAST(FLOOR((rate - FLOOR(rate)) * 10000) AS BIGINT)
                  THEN 1 ELSE 0 END AS n_copies
         FROM documents d JOIN r USING (lang)""",
    "q_sample_dsir" ->
      """WITH w AS (
           SELECT doc_id, lang,
                  regexp_split_to_array(trim(text), '\s+') AS w
           FROM documents),
         feats AS (
           SELECT doc_id, lang,
                  CAST(CONCAT('0x', SUBSTRING(md5(
                    CONCAT(w[i], ' ', w[i+1])), 1, 15)) AS BIGINT) % 1024
                    AS bucket
           FROM (SELECT doc_id, lang, w,
                        unnest(range(1, greatest(len(w)-1,0)+1)) AS i
                 FROM w)),
         counts AS (
           SELECT bucket,
                  CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                    AS BIGINT) AS ct,
                  CAST(COUNT(*) AS BIGINT) AS cr
           FROM feats GROUP BY bucket),
         tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS tt,
                        CAST(SUM(cr) AS BIGINT) AS tr FROM counts),
         model AS (
           SELECT bucket,
                  CAST(FLOOR(log2(
                    ((CAST(ct AS DOUBLE) + 1.0) / (CAST(tt AS DOUBLE) + 1024.0))
                    / ((CAST(cr AS DOUBLE) + 1.0) / (CAST(tr AS DOUBLE) + 1024.0)))
                    * 1000000.0) AS BIGINT) AS llr_micro
           FROM counts CROSS JOIN tot),
         wts AS (
           SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
                  CAST(SUM(llr_micro) AS BIGINT) AS w_micro
           FROM feats JOIN model USING (bucket) GROUP BY doc_id)
         SELECT d.doc_id, d.lang, n_feats, w_micro,
                w_micro + CAST(FLOOR(-log2(-log2(
                  (CAST(CAST(CONCAT('0x', SUBSTRING(md5(CONCAT('dsir:',
                     CAST(d.doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
                     % 1000000 AS DOUBLE) + 0.5) / 1000000.0))
                  * 1000000.0) AS BIGINT) AS key_micro
         FROM documents d JOIN wts USING (doc_id)
         ORDER BY key_micro DESC, doc_id LIMIT 100""",
    "q_sample_dsir_eval" ->
      """WITH w AS (
           SELECT doc_id, lang,
                  regexp_split_to_array(trim(text), '\s+') AS w
           FROM documents),
         feats AS (
           SELECT doc_id, lang,
                  CAST(CONCAT('0x', SUBSTRING(md5(
                    CONCAT(w[i], ' ', w[i+1])), 1, 15)) AS BIGINT) % 1024
                    AS bucket
           FROM (SELECT doc_id, lang, w,
                        unnest(range(1, greatest(len(w)-1,0)+1)) AS i
                 FROM w)),
         counts AS (
           SELECT bucket,
                  CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                    AS BIGINT) AS ct,
                  CAST(COUNT(*) AS BIGINT) AS cr
           FROM feats GROUP BY bucket),
         tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS tt,
                        CAST(SUM(cr) AS BIGINT) AS tr FROM counts),
         model AS (
           SELECT bucket,
                  CAST(FLOOR(log2(
                    ((CAST(ct AS DOUBLE) + 1.0) / (CAST(tt AS DOUBLE) + 1024.0))
                    / ((CAST(cr AS DOUBLE) + 1.0) / (CAST(tr AS DOUBLE) + 1024.0)))
                    * 1000000.0) AS BIGINT) AS llr_micro
           FROM counts CROSS JOIN tot),
         wts AS (
           SELECT doc_id, CAST(SUM(llr_micro) AS BIGINT) AS w_micro
           FROM feats JOIN model USING (bucket) GROUP BY doc_id),
         sel AS (
           SELECT d.doc_id,
                  w_micro + CAST(FLOOR(-log2(-log2(
                    (CAST(CAST(CONCAT('0x', SUBSTRING(md5(CONCAT('dsir:',
                       CAST(d.doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
                       % 1000000 AS DOUBLE) + 0.5) / 1000000.0))
                    * 1000000.0) AS BIGINT) AS key_micro
           FROM documents d JOIN wts USING (doc_id)
           ORDER BY key_micro DESC, d.doc_id LIMIT 100),
         rnd AS (
           SELECT doc_id FROM documents
           ORDER BY CAST(CONCAT('0x', SUBSTRING(md5(CONCAT('rnd:',
             CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT), doc_id
           LIMIT 100),
         shist AS (
           SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cs
           FROM feats WHERE doc_id IN (SELECT doc_id FROM sel)
           GROUP BY bucket),
         rhist AS (
           SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cn
           FROM feats WHERE doc_id IN (SELECT doc_id FROM rnd)
           GROUP BY bucket),
         spine AS (SELECT unnest(range(0, 1024)) AS bucket),
         dense AS (
           SELECT s.bucket, COALESCE(c.ct, 0) AS ct, COALESCE(c.cr, 0) AS cr,
                  COALESCE(sh.cs, 0) AS cs, COALESCE(rh.cn, 0) AS cn
           FROM spine s LEFT JOIN counts c ON c.bucket = s.bucket
                        LEFT JOIN shist sh ON sh.bucket = s.bucket
                        LEFT JOIN rhist rh ON rh.bucket = s.bucket),
         tot3 AS (SELECT CAST(SUM(ct) AS BIGINT) AS tt,
                         CAST(SUM(cr) AS BIGINT) AS tr,
                         CAST(SUM(cs) AS BIGINT) AS ts,
                         CAST(SUM(cn) AS BIGINT) AS tn FROM dense)
         SELECT CAST(SUM(CAST(FLOOR(
                  ((CAST(ct AS DOUBLE) + 1.0) / (CAST(tt AS DOUBLE) + 1024.0))
                  * log2(((CAST(ct AS DOUBLE) + 1.0) / (CAST(tt AS DOUBLE) + 1024.0))
                    / ((CAST(cr AS DOUBLE) + 1.0) / (CAST(tr AS DOUBLE) + 1024.0)))
                  * 1000000.0) AS BIGINT)) AS BIGINT)
                  AS kl_target_raw_microbits,
                CAST(SUM(CAST(FLOOR(
                  ((CAST(ct AS DOUBLE) + 1.0) / (CAST(tt AS DOUBLE) + 1024.0))
                  * log2(((CAST(ct AS DOUBLE) + 1.0) / (CAST(tt AS DOUBLE) + 1024.0))
                    / ((CAST(cs AS DOUBLE) + 1.0) / (CAST(ts AS DOUBLE) + 1024.0)))
                  * 1000000.0) AS BIGINT)) AS BIGINT)
                  AS kl_target_selected_microbits,
                CAST(SUM(CAST(FLOOR(
                  ((CAST(ct AS DOUBLE) + 1.0) / (CAST(tt AS DOUBLE) + 1024.0))
                  * log2(((CAST(ct AS DOUBLE) + 1.0) / (CAST(tt AS DOUBLE) + 1024.0))
                    / ((CAST(cn AS DOUBLE) + 1.0) / (CAST(tn AS DOUBLE) + 1024.0)))
                  * 1000000.0) AS BIGINT)) AS BIGINT)
                  AS kl_target_random_microbits
         FROM dense CROSS JOIN tot3""",
    "q_text_chunk_windows" ->
      """WITH d AS (
           SELECT doc_id,
                  regexp_split_to_array(trim(text), '\s+') AS w,
                  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
                    AS n
           FROM documents),
         c AS (
           SELECT doc_id, w, n,
                  unnest(range(0, 1 + CAST(FLOOR((GREATEST(n - 64, 0) + 47)
                    / 48.0) AS BIGINT))) AS chunk_idx
           FROM d)
         SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
                CAST(chunk_idx * 48 AS BIGINT) AS chunk_start,
                CAST(LEAST(64, n - chunk_idx * 48) AS BIGINT)
                  AS n_chunk_tokens,
                array_to_string(w[chunk_idx * 48 + 1 : chunk_idx * 48 + 64],
                  ' ') AS chunk_text
         FROM c""",
    "q_text_chunk_hash_embed" ->
      """WITH d AS (
           SELECT doc_id,
                  regexp_split_to_array(trim(text), '\s+') AS w,
                  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
                    AS n
           FROM documents),
         c AS (
           SELECT doc_id, w, n,
                  unnest(range(0, 1 + CAST(FLOOR((GREATEST(n - 64, 0) + 47)
                    / 48.0) AS BIGINT))) AS chunk_idx
           FROM d),
         ct AS (
           SELECT doc_id, chunk_idx,
                  unnest(w[chunk_idx * 48 + 1 : chunk_idx * 48 + 64]) AS term
           FROM c),
         tf AS (
           SELECT doc_id, chunk_idx, term, COUNT(*) AS tf
           FROM ct GROUP BY doc_id, chunk_idx, term),
         dtf AS (
           SELECT doc_id, term
           FROM (SELECT doc_id,
                        unnest(regexp_split_to_array(trim(text), '\s+')) AS term
                 FROM documents)
           GROUP BY doc_id, term),
         dft AS (SELECT term, COUNT(*) AS df_t FROM dtf GROUP BY term),
         corpus AS (SELECT COUNT(*) AS big_n FROM documents),
         h AS (
           SELECT doc_id, chunk_idx, tf, df_t, big_n,
                  CAST(CONCAT('0x', SUBSTRING(md5(term), 1, 9)) AS BIGINT)
                    AS hv
           FROM tf JOIN dft USING (term) CROSS JOIN corpus)
         SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
                CAST(hv % 64 AS BIGINT) AS bucket,
                CAST(SUM(
                  (CASE WHEN (hv // 64) % 2 = 0 THEN 1 ELSE -1 END) *
                  CAST(FLOOR(1e6 * CAST(tf AS DOUBLE) *
                    ((CAST(big_n AS DOUBLE) - CAST(df_t AS DOUBLE) + 0.5)
                      / (CAST(df_t AS DOUBLE) + 0.5))) AS BIGINT))
                  AS BIGINT) AS weight_micro
         FROM h
         GROUP BY doc_id, chunk_idx, hv % 64""",
    "q_text_zipf_slope" ->
      """WITH tf AS (
           SELECT term, COUNT(*) AS freq
           FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term
                 FROM documents)
           GROUP BY term),
         hist AS (SELECT freq, COUNT(*) AS n_terms FROM tf GROUP BY freq),
         rk AS (
           SELECT freq, n_terms,
                  1 + COALESCE(SUM(n_terms) OVER (ORDER BY freq DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS min_rank
           FROM hist),
         pts AS (
           SELECT CAST(FLOOR(log2(CAST(min_rank AS DOUBLE)) * 1000)
                    AS BIGINT) AS x,
                  CAST(FLOOR(log2(CAST(freq AS DOUBLE)) * 1000)
                    AS BIGINT) AS y
           FROM rk),
         s AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                      SUM(x*y) AS sxy, SUM(x*x) AS sxx
               FROM pts)
         SELECT CAST(n AS BIGINT) AS n_points,
                CASE WHEN n <= 1 OR
                       CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0.0
                  THEN NULL
                  ELSE CAST(FLOOR((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * 1000000.0) AS BIGINT)
                END AS slope_micro
         FROM s""",
    "q_text_vocab_growth" ->
      """WITH fs AS (
           SELECT term, MIN(doc_id) AS first_doc
           FROM (SELECT doc_id,
                        unnest(regexp_split_to_array(trim(text), '\s+')) AS term
                 FROM documents)
           GROUP BY term),
         b AS (
           SELECT first_doc AS bucket, COUNT(*) AS new_terms
           FROM fs GROUP BY first_doc)
         SELECT CAST(bucket AS BIGINT) AS bucket,
                CAST(new_terms AS BIGINT) AS new_terms,
                CAST(SUM(new_terms) OVER (ORDER BY bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_vocab
         FROM b""",
    // in this oracle and q_text_bm25's below, parenthesization mirrors
    // the Spark expression tree exactly — +,-,*,/ are IEEE-identical
    // across engines only for the SAME operation sequence
    "q_text_hash_embed" ->
      """WITH tf AS (
           SELECT doc_id, term, COUNT(*) AS tf
           FROM (SELECT doc_id,
                        unnest(regexp_split_to_array(trim(text), '\s+')) AS term
                 FROM documents)
           GROUP BY doc_id, term),
         dft AS (SELECT term, COUNT(*) AS df_t FROM tf GROUP BY term),
         corpus AS (SELECT COUNT(*) AS big_n FROM documents),
         h AS (
           SELECT doc_id, tf, df_t, big_n,
                  CAST(CONCAT('0x', SUBSTRING(md5(term), 1, 9)) AS BIGINT)
                    AS hv
           FROM tf JOIN dft USING (term) CROSS JOIN corpus)
         SELECT doc_id,
                CAST(hv % 64 AS BIGINT) AS bucket,
                CAST(SUM(
                  (CASE WHEN (hv // 64) % 2 = 0 THEN 1 ELSE -1 END) *
                  CAST(FLOOR(1e6 * CAST(tf AS DOUBLE) *
                    ((CAST(big_n AS DOUBLE) - CAST(df_t AS DOUBLE) + 0.5)
                      / (CAST(df_t AS DOUBLE) + 0.5))) AS BIGINT))
                  AS BIGINT) AS weight_micro
         FROM h
         GROUP BY doc_id, hv % 64""",
    "q_text_bm25" ->
      """WITH dl AS (
           SELECT doc_id,
                  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
                    AS dl
           FROM documents),
         tf AS (
           SELECT doc_id, term, COUNT(*) AS tf
           FROM (SELECT doc_id,
                        unnest(regexp_split_to_array(trim(text), '\s+')) AS term
                 FROM documents)
           WHERE term IN ('vector', 'stream', 'window')
           GROUP BY doc_id, term),
         dft AS (SELECT term, COUNT(*) AS df_t FROM tf GROUP BY term),
         corpus AS (
           SELECT COUNT(*) AS big_n, SUM(dl) AS sum_dl FROM dl)
         SELECT doc_id,
                CAST(SUM(contrib_q) AS BIGINT) AS score_q,
                COUNT(*) AS n_terms
         FROM (
           SELECT tf.doc_id,
                  CAST(FLOOR(1e9 *
                    ((CAST(big_n AS DOUBLE) - CAST(df_t AS DOUBLE) + 0.5)
                      / (CAST(df_t AS DOUBLE) + 0.5)) *
                    (CAST(tf AS DOUBLE) * (1.2 + 1.0)) /
                    (CAST(tf AS DOUBLE) + 1.2 * (1.0 - 0.75 +
                      0.75 * (CAST(dl AS DOUBLE) /
                        (CAST(sum_dl AS DOUBLE) / CAST(big_n AS DOUBLE))))))
                    AS BIGINT) AS contrib_q
           FROM tf
           JOIN dft USING (term)
           JOIN dl ON tf.doc_id = dl.doc_id
           CROSS JOIN corpus)
         GROUP BY doc_id
         ORDER BY score_q DESC, doc_id
         LIMIT 100""",
    // same quantized BM25 core; rank-of-relevant via dominator count.
    // The sample size is INTERPOLATED from the one shared constant so
    // retuning RetrievalQuerySample can never desynchronize the two
    // sides (a hardcoded 256 here would only surface as a hash flag at
    // verify time).
    "q_text_retrieval_eval" ->
      s"""WITH qids AS (
           SELECT doc_id AS query_id
           FROM documents
           ORDER BY CAST(CONCAT('0x', SUBSTRING(md5(CONCAT('rq:',
                   CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT), doc_id
           LIMIT $RetrievalQuerySample),
         qdocs AS (
           SELECT doc_id AS query_id,
                  regexp_split_to_array(trim(text), '\\s+') AS w
           FROM documents JOIN qids ON doc_id = query_id),
         qterms AS (
           SELECT DISTINCT query_id, term
           FROM (SELECT query_id, unnest(w[5:12]) AS term FROM qdocs)),
         dl AS (
           SELECT doc_id,
                  CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
                    AS dl
           FROM documents),
         tf AS (
           SELECT doc_id, term, COUNT(*) AS tf
           FROM (SELECT doc_id,
                        unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
                 FROM documents)
           WHERE term IN (SELECT DISTINCT term FROM qterms)
           GROUP BY doc_id, term),
         dft AS (SELECT term, COUNT(*) AS df_t FROM tf GROUP BY term),
         corpus AS (
           SELECT COUNT(*) AS big_n, SUM(dl) AS sum_dl FROM dl),
         scored AS (
           SELECT query_id, doc_id, SUM(contrib_q) AS score_q
           FROM (
             SELECT q.query_id, tf.doc_id,
                    CAST(FLOOR(1e9 *
                      ((CAST(big_n AS DOUBLE) - CAST(df_t AS DOUBLE) + 0.5)
                        / (CAST(df_t AS DOUBLE) + 0.5)) *
                      (CAST(tf AS DOUBLE) * (1.2 + 1.0)) /
                      (CAST(tf AS DOUBLE) + 1.2 * (1.0 - 0.75 +
                        0.75 * (CAST(dl AS DOUBLE) /
                          (CAST(sum_dl AS DOUBLE) / CAST(big_n AS DOUBLE))))))
                      AS BIGINT) AS contrib_q
             FROM qterms q
             JOIN tf ON tf.term = q.term
             JOIN dft ON dft.term = q.term
             JOIN dl ON tf.doc_id = dl.doc_id
             CROSS JOIN corpus)
           GROUP BY query_id, doc_id),
         rel AS (
           SELECT query_id, score_q AS rel_score
           FROM scored WHERE doc_id = query_id),
         beats AS (
           SELECT s.query_id, COUNT(*) AS n_beats
           FROM scored s JOIN rel r ON r.query_id = s.query_id
           WHERE s.score_q > r.rel_score
              OR (s.score_q = r.rel_score AND s.doc_id < s.query_id)
           GROUP BY s.query_id),
         rnk AS (
           SELECT r.query_id,
                  CAST(COALESCE(b.n_beats, 0) + 1 AS BIGINT) AS rnk
           FROM rel r LEFT JOIN beats b ON b.query_id = r.query_id)
         SELECT q.query_id,
                rnk.rnk AS rank_of_relevant,
                CAST(COALESCE(CAST(FLOOR(1000000.0 / rnk.rnk) AS BIGINT), 0)
                     AS BIGINT) AS rr_micro,
                COALESCE(rnk.rnk <= 10, FALSE) AS hit_at_10
         FROM qdocs q LEFT JOIN rnk ON rnk.query_id = q.query_id""",
    // the oracle runs the UNPRUNED per-stratum window, so the Spark
    // side's hash-threshold prune is itself hash-verified lossless
    "q_sample_stratified_k" ->
      """WITH r AS (
           SELECT lang, doc_id,
                  CAST(CONCAT('0x', SUBSTRING(md5(CONCAT('strat:',
                    CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS rk
           FROM documents)
         SELECT lang, doc_id, CAST(rn AS BIGINT) AS sample_rank
         FROM (SELECT lang, doc_id,
                      ROW_NUMBER() OVER (PARTITION BY lang
                        ORDER BY rk, doc_id) AS rn
               FROM r)
         WHERE rn <= 40""",
    "q_split_train_test" ->
      """SELECT doc_id, source,
                CAST(CONCAT('0x', SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                     AS BIGINT) % 100 AS bucket,
                CASE WHEN CAST(CONCAT('0x', SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                          AS BIGINT) % 100 < 90 THEN 'train'
                     WHEN CAST(CONCAT('0x', SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                          AS BIGINT) % 100 < 95 THEN 'validation'
                     ELSE 'test' END AS split
         FROM documents""",
    // same recursive-CTE closure as q_dedup_components; the split coin
    // moves from doc_id to the component label
    "q_split_leakage_safe" ->
      (minhashOracleCte.replace("WITH sh AS", "WITH RECURSIVE sh AS") +
        """,
         pairs AS (SELECT doc_a, doc_b FROM cand_pairs),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                   UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs),
         reach AS (
           SELECT doc_id AS node, doc_id AS lbl FROM documents
           UNION
           SELECT e.src AS node, r.lbl AS lbl
           FROM edges e JOIN reach r ON e.dst = r.node),
         comps AS (
           SELECT node AS doc_id, CAST(MIN(lbl) AS BIGINT) AS component
           FROM reach GROUP BY node),
         b AS (
           SELECT doc_id, component,
                  CAST(CONCAT('0x', SUBSTRING(md5(CAST(component AS VARCHAR)),
                       1, 15)) AS BIGINT) % 100 AS bucket
           FROM comps)
         SELECT d.doc_id, d.source, b.component, b.bucket,
                CASE WHEN b.bucket < 90 THEN 'train'
                     WHEN b.bucket < 95 THEN 'validation'
                     ELSE 'test' END AS split
         FROM documents d JOIN b ON b.doc_id = d.doc_id"""),
    "q_pack_sequences" ->
      """WITH d AS (
           SELECT doc_id,
                  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
                    AS n_tokens
           FROM documents),
         o AS (
           SELECT doc_id, n_tokens,
                  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS tok_offset
           FROM d)
         SELECT doc_id, n_tokens, tok_offset,
                CAST(tok_offset // 2048 AS BIGINT) AS first_bin,
                CAST(greatest(tok_offset // 2048,
                  (tok_offset + n_tokens - 1) // 2048) AS BIGINT) AS last_bin,
                CAST(tok_offset % 2048 AS BIGINT) AS offset_in_bin
         FROM o""",
    "q_pack_bins" ->
      """WITH d AS (
           SELECT doc_id,
                  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
                    AS n_tokens
           FROM documents),
         o AS (
           SELECT doc_id, n_tokens,
                  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS tok_offset
           FROM d),
         p AS (
           SELECT doc_id, n_tokens, tok_offset,
                  tok_offset // 2048 AS first_bin,
                  greatest(tok_offset // 2048,
                    (tok_offset + n_tokens - 1) // 2048) AS last_bin
           FROM o),
         x AS (
           SELECT doc_id, n_tokens, tok_offset,
                  unnest(range(first_bin, last_bin + 1)) AS bin
           FROM p)
         SELECT CAST(bin AS BIGINT) AS bin, doc_id,
                CAST(greatest(tok_offset, bin * 2048) - bin * 2048
                  AS BIGINT) AS bin_tok_start,
                CAST(least(tok_offset + n_tokens, (bin + 1) * 2048)
                  - bin * 2048 AS BIGINT) AS bin_tok_end,
                CAST(least(tok_offset + n_tokens, (bin + 1) * 2048)
                  - greatest(tok_offset, bin * 2048)
                  AS BIGINT) AS n_tokens_in_bin
         FROM x""",
    // length-class packing: identical recurrence to bestfitFrame — class
    // k = B div max(ℓ,1), row_number per class in doc_id order, bins per
    // class prefix-summed over ascending k, offset = earlier docs in the
    // same bin (all nonnegative BIGINTs: `//` == Spark's `div`)
    "q_pack_bestfit" -> (packBestfitCtes +
      s"""
         SELECT doc_id, n_tokens, CAST(k AS BIGINT) AS per_bin_capacity,
                CAST(bin AS BIGINT) AS bin,
                CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY bin
                  ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND
                  1 PRECEDING), 0) AS BIGINT) AS offset_in_bin
         FROM assigned"""),
    "q_pack_bestfit_waste" -> (packBestfitCtes +
      s""",
         agg AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                  CAST(SUM(n_tokens) AS BIGINT) AS tot
           FROM d),
         pk AS (
           SELECT CAST(COUNT(DISTINCT bin) AS BIGINT) AS n_bins,
                  CAST(SUM(n_tokens) AS BIGINT) AS tot
           FROM assigned)
         SELECT 'concat_chunk' AS strategy,
                CAST((tot + $PackBin - 1) // $PackBin AS BIGINT) AS n_bins,
                tot AS total_tokens,
                CAST(((tot + $PackBin - 1) // $PackBin) * $PackBin - tot
                  AS BIGINT) AS padded_tokens,
                FALSE AS preserves_docs
         FROM agg
         UNION ALL
         SELECT 'one_doc_per_bin', n_docs, tot,
                CAST(n_docs * $PackBin - tot AS BIGINT), TRUE FROM agg
         UNION ALL
         SELECT 'length_class_packed', n_bins, tot,
                CAST(n_bins * $PackBin - tot AS BIGINT), TRUE FROM pk"""),
    "q_text_lang_id" -> langOracle,
    "q_text_clean_corpus" -> (minhashOracleCte +
      s""",
         pairs AS (SELECT doc_a, doc_b FROM cand_pairs),
         qual AS ($qualityOracle),
         lang AS ($langOracle),
         base AS (
           SELECT d.doc_id, d.source, md5(LOWER(TRIM(d.text))) AS tkey,
                  q.quality_score, l.lang_pred
           FROM documents d
           JOIN qual q ON q.doc_id = d.doc_id
           JOIN lang l ON l.doc_id = d.doc_id
           WHERE q.quality_score >= 0.5 AND l.lang_pred <> 'unknown'),
         kept AS (
           SELECT doc_id, source, lang_pred, quality_score FROM (
             SELECT base.*, MIN(doc_id) OVER (PARTITION BY tkey) AS min_id
             FROM base)
           WHERE doc_id = min_id),
         drops AS (
           SELECT DISTINCT p.doc_b AS drop_id
           FROM pairs p
           JOIN kept ka ON ka.doc_id = p.doc_a
           JOIN kept kb ON kb.doc_id = p.doc_b)
         SELECT doc_id, source, lang_pred, quality_score
         FROM kept WHERE doc_id NOT IN (SELECT drop_id FROM drops)"""),
    "q_text_fingerprint" ->
      """SELECT doc_id,
                md5(regexp_replace(LOWER(TRIM(text)), '\s+', ' ', 'g')) AS fingerprint,
                array_to_string(regexp_split_to_array(trim(text), '\s+')[1:8], ' ')
                  AS prefix_key
         FROM documents""")
}
