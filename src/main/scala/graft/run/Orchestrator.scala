package graft.run

import graft.ingest.{MappingValidator, RowValidator}
import graft.pipeline._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Batch lifecycle orchestration — the Spark collapse of the reference's
  * multi-process pipeline (SURVEY §3): per-file ingest (validate →
  * bronze), silver transforms, dim-before-fact gold integration, MV
  * refresh — with the reference's reliability contract preserved:
  *
  *  - idempotent batch overwrite (S8): every layer writes parquet
  *    partitioned by dwh_batch_id with dynamic partition overwrite, so a
  *    re-run of the same batch replaces exactly its own partition;
  *  - empty-batch short-circuit (S10): a transform whose input batch
  *    slice is empty reports success without writing
  *    (tools.load_crm_cust_info_v1.sql:29-40);
  *  - append-only audit log (A10): one row per step with status +
  *    row count (tools.transformation_log / integration_log);
  *  - catalog/schema introspection (S11): target schema read from the
  *    existing output, new columns tolerated via mergeSchema.
  *
  * The reference's manifest-concurrency machinery (polling, atomic
  * rename, merge-on-read) exists only because of its multi-process
  * architecture and is deliberately NOT ported (SURVEY §7.4.8) — the
  * manifest survives as the in-memory Manifest model with one writer.
  */
object Orchestrator {

  final case class Manifest(clientSchema: String, clientId: Int,
                            batchId: String, files: Seq[FileEntry])
  final case class FileEntry(logicalName: String, sourceSystem: String,
                             status: String)

  final case class StepLog(step: String, target: String, status: String,
                           rows: Long, batchId: String, message: String)

  /** Outcome of one key-bucketed merge: which hash-buckets were
    * rewritten, and the per-row classification of the change batch.
    * `noops` are update rows whose attributes already match the current
    * version — a correct merge neither versions them nor rewrites
    * anything for them alone.
    */
  final case class MergeStats(touched: Seq[Int], inserted: Long,
                              versioned: Long, noops: Long)

  /** One row of the integration config (mirrors tools.integration_config
    * + integration_dependencies, scripts/gold_integration.py:42-64):
    * targets run in `runOrder`; a target whose dependency did not
    * succeed this batch is skipped, not attempted.
    */
  final case class IntegrationStep(target: String, runOrder: Int,
                                   dependsOn: Seq[String])

  /** Logical table name → physical path. The two ANN index tables live
    * inside the COMMITTED ANN generation directory (the
    * generation-pointer plane — see [[Run.rebuildAnnIndex]]); every
    * other table sits at `$warehouse/<name>`. ONE resolver serves the
    * run plane, the specs and any external reader — a drifted copy
    * would silently read a stale generation after a rebuild.
    */
  def tablePath(warehouse: String, table: String): String = table match {
    case "indexes/ann_centroids" =>
      s"${annGenDir(warehouse, annGen(warehouse))}/centroids"
    case "indexes/ann_lists" =>
      s"${annGenDir(warehouse, annGen(warehouse))}/lists"
    case _ => s"$warehouse/$table"
  }

  /** The ANN generation pointer — the one small file whose atomic
    * publish ([[WarehouseFs.publishAtomic]]) COMMITS a rebuilt index.
    * Readers resolve the live generation through it; a missing pointer
    * means generation 0 (the bootstrap generation, where
    * [[Run.indexAnnBatch]]'s first landing creates the tables).
    */
  def annPointerPath(warehouse: String): String =
    s"$warehouse/indexes/ann/_live_gen"

  def annGen(warehouse: String): Long =
    if (WarehouseFs.exists(annPointerPath(warehouse)))
      WarehouseFs.readString(annPointerPath(warehouse)).trim.toLong
    else 0L

  private[run] def annGenDir(warehouse: String, g: Long): String =
    f"$warehouse/indexes/ann/g$g%06d"

  /** Completed write targets for a batch, from the audit plane — the
    * basis of restart mode (re-run only what didn't finish), mirroring
    * the reference's audit-log-driven restart
    * (handlers/batch_processing.py:501-896).
    */
  def completedTargets(spark: SparkSession, warehouse: String,
                       batchId: String): Set[String] = {
    val path = s"$warehouse/tools/audit_log"
    if (!WarehouseFs.exists(path)) Set.empty
    else graft.sources.AppendLogLayout.read(spark, path)
      .where(col("batchId") === batchId && col("step") === "write"
        && col("status") === "SUCCESS")
      .select("target").collect().map(_.getString(0)).toSet
  }

  /** Targets a reprocess cycle should pick up: a FAILED row for the
    * batch with no SUCCESS row for the same target (order-free — once a
    * reprocess succeeds, the SUCCESS row clears the target without any
    * audit-row timestamps). Mirrors the reference's failed-file model
    * (handlers/batch_processing.py:501-896, README.md:94-97: failed
    * files are quarantined and re-run under the SAME batch id).
    */
  def failedTargets(spark: SparkSession, warehouse: String,
                    batchId: String): Set[String] = {
    val path = s"$warehouse/tools/audit_log"
    if (!WarehouseFs.exists(path)) Set.empty
    else {
      val batch = graft.sources.AppendLogLayout.read(spark, path)
        .where(col("batchId") === batchId)
      val failed = batch.where(col("status") === "FAILED")
        .select("target").collect().map(_.getString(0)).toSet
      // healed = the data actually landed: only a write-level success
      // counts — "write" for batch-partitioned tables, "mv_refresh" for
      // full-refresh views, "ann_rebuild" for the index swap (a
      // retried rebuild that swapped cleanly must clear the target,
      // same as a healed refresh); a mapping_validation SUCCESS
      // followed by a dead write must NOT mask the target from the
      // reprocess cycle
      val healed = batch
        .where(col("status") === "SUCCESS"
          && col("step").isin("write", "mv_refresh", "mv_incremental",
            "ann_rebuild"))
        .select("target").collect().map(_.getString(0)).toSet
      failed -- healed
    }
  }

  final class Run(spark: SparkSession, warehouse: String, batchId: String,
                  resume: Boolean = false) {
    private var logs = Vector.empty[StepLog]
    private var pending = Vector.empty[StepLog]
    def auditLog: Seq[StepLog] = logs

    /** Physical path of a logical table ([[Orchestrator.tablePath]]):
      * the ANN index tables resolve through the committed generation
      * pointer, everything else is warehouse-rooted.
      */
    def tablePath(table: String): String =
      Orchestrator.tablePath(warehouse, table)

    private val alreadyDone: Set[String] =
      if (resume) completedTargets(spark, warehouse, batchId) else Set.empty

    private def log(step: String, target: String, status: String,
                    rows: Long, msg: String = ""): Unit = synchronized {
      // synchronized: maintenance ops overlap independent per-partition
      // Spark jobs from a small thread pool (guide §2.6), and the two
      // buffer appends below are plain var updates
      val l = StepLog(step, target, status, rows, batchId, msg)
      logs :+= l
      pending :+= l
      // FAILED rows persist immediately: the reprocess cycle keys off
      // them, and a crash right after a failure must not lose the one
      // row that says work is outstanding
      if (status == "FAILED") flushAudit()
    }

    /** A10: append-only audit plane, itself parquet. Rows are BUFFERED
      * per Run and flushed once per stage — one small file per flush
      * instead of one per step, or the audit plane itself becomes a
      * small-files storm at production step cadence. Failure rows
      * bypass the buffer (see `log`); a crash between flushes loses
      * only SUCCESS rows, whose work the idempotent batch overwrite
      * (S8) re-does harmlessly on restart.
      */
    def flushAudit(): Unit = synchronized { if (pending.nonEmpty) {
      import spark.implicits._
      pending.toDF().coalesce(1)
        .write.mode(SaveMode.Append).parquet(s"$warehouse/tools/audit_log")
      pending = Vector.empty
    } }

    /** S8: write one batch of a layer table idempotently. In restart
      * mode a target the audit log already records as written is
      * skipped (its partition is intact — writes are atomic per the
      * task-commit protocol).
      *
      * The audit row count comes from an Observation on the write job
      * itself (A10, SURVEY §2.4: "observe to avoid double scans") —
      * re-reading a just-written 100 TB partition only to count it
      * would double the IO of every load.
      */
    def writeBatch(df: DataFrame, table: String): Long = {
      if (alreadyDone(table)) {
        log("write", table, "SKIPPED_DONE", 0)
        return graft.sources.CompactedLayout.read(spark, tablePath(table))
          .where(col("dwh_batch_id") === batchId).count()
      }
      val obs = org.apache.spark.sql.Observation()
      df.withColumn("dwh_batch_id", lit(batchId))
        .observe(obs, count(lit(1)).as("n"))
        .write
        .partitionBy("dwh_batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .mode(SaveMode.Overwrite)
        .parquet(tablePath(table))
      val n = obs.get("n").asInstanceOf[Long]
      log("write", table, "SUCCESS", n)
      n
    }

    /** [[writeBatch]] + per-batch Bloom manifest maintenance: after the
      * batch's data partition lands (dynamic overwrite), its manifest
      * partition under `_bloomidx/pid=<batchId>` is refreshed the same
      * way ([[graft.sources.BloomIndexLayout.refreshPartition]]), so a
      * re-run replaces data and skip-index consistently and point
      * lookups on `bloomKey` via [[readTablePointLookup]] skip to
      * ~1 file per probe across every landed batch.
      *
      * The refresh decision is taken from manifest-vs-data STATE, not
      * the audit log: a restart where the data landed but the earlier
      * refresh failed (or never ran) HEALS the manifest partition
      * instead of skipping it forever, and an intact manifest skips
      * the rebuild at the cost of two metadata listings. An empty
      * batch writes no partition directory, so it also refreshes
      * nothing (the S10 tolerance plain writeBatch has).
      */
    def writeBatchIndexed(df: DataFrame, table: String,
                          bloomKey: String): Long = {
      import graft.sources.ManifestRefresh
      val n = writeBatch(df, table)
      val path = tablePath(table)
      val needsRefresh = n > 0 && {
        val idxPart = s"$path/_bloomidx/pid=$batchId"
        ManifestRefresh.readManifest(spark, idxPart) match {
          case None => true
          case Some(m) =>
            import spark.implicits._
            val have = m.select(col("file")).as[String].collect()
              .map(ManifestRefresh.base).toSet
            // live partition path (the loose dir unless a pointer has
            // committed a compacted generation for this partition)
            val data = spark.read
              .parquet(graft.sources.CompactedLayout.livePartitionPath(
                s"$path/dwh_batch_id=$batchId")).inputFiles
              .map(ManifestRefresh.base).toSet
            have != data
        }
      }
      if (needsRefresh)
        graft.sources.BloomIndexLayout.refreshPartition(
          spark, path, "dwh_batch_id", batchId, bloomKey)
      n
    }

    /** Bloom-pruned point lookup over a [[writeBatchIndexed]] table:
      * `keyCol IN (probes)` reading only the files whose per-file
      * filters might contain a probe. Coverage is verified BY FILE
      * IDENTITY first, both directions — a batch landed through plain
      * [[writeBatch]] has no manifest rows (pruned reads would miss
      * its rows), and a batch re-landed without a refresh leaves
      * manifest rows naming vanished files (probes absent from the
      * stale filters would prune everything) — counts alone can
      * coincide across those states, so they are not trusted.
      */
    def readTablePointLookup(table: String, keyCol: String,
                             probes: Seq[Long]): DataFrame = {
      import graft.sources.ManifestRefresh
      val path = tablePath(table)
      // resolver-aware inventory: live files only — after a compaction
      // the parked files must not be demanded of the manifest
      val allFiles = graft.sources.CompactedLayout.inputFiles(spark, path)
      val haveFiles = ManifestRefresh
        .readManifest(spark, s"$path/_bloomidx") match {
          case None => Array.empty[String]
          case Some(m) =>
            import spark.implicits._
            m.select(col("file")).as[String].collect()
        }
      val missing = ManifestRefresh.missingOrStale(allFiles, haveFiles,
        s"$path/_bloomidx", rebuildWith = "writeBatchIndexed")
      require(missing.isEmpty,
        s"bloom manifest misses ${missing.length} of ${allFiles.length} " +
          s"files of $table — land every batch through writeBatchIndexed " +
          "before point lookups")
      graft.sources.BloomIndexLayout.prunedRead(
        spark, path, keyCol, probes)._1
    }

    /** Bucketed layer table (catalog name = path with '/' → '_'): the
      * co-location contract for repeated large-x-large joins. A table
      * bucketed on its join key is hash-partitioned AT WRITE TIME, so
      * every later join or aggregation on that key plans without a
      * shuffle exchange — at 100 TB the bucket-once cost replaces a
      * full-corpus shuffle PER QUERY. Maintenance stays batch-shaped:
      *
      *  - first write creates the table (external, at the warehouse
      *    path) via bucketBy + saveAsTable — bucket metadata lives in
      *    the session catalog (HMS/Glue in production);
      *  - every later batch lands through insertInto with dynamic
      *    partition overwrite, which preserves the catalog bucket spec
      *    per partition — the S8 idempotency contract unchanged (a
      *    re-run replaces exactly its own batch partition);
      *  - a catalog that lost the table (fresh cluster attaching to an
      *    existing warehouse) is re-registered from the files via
      *    [[ensureBucketedRegistered]] — NEVER by a saveAsTable
      *    overwrite, which would drop every other batch's partition.
      */
    def writeBucketedBatch(df: DataFrame, table: String,
                           bucketCols: Seq[String], numBuckets: Int): Long = {
      if (alreadyDone(table)) {
        log("write", table, "SKIPPED_DONE", 0)
        return spark.read.parquet(tablePath(table))
          .where(col("dwh_batch_id") === batchId).count()
      }
      val name = catalogName(table)
      val obs = org.apache.spark.sql.Observation()
      val withBatch = df.withColumn("dwh_batch_id", lit(batchId))
        .observe(obs, count(lit(1)).as("n"))
      if (spark.catalog.tableExists(name)) insertBucketed(withBatch, name)
      else if (WarehouseFs.exists(s"$warehouse/$table")) {
        ensureBucketedRegistered(table, bucketCols, numBuckets)
        insertBucketed(withBatch, name)
      } else {
        withBatch.write
          .partitionBy("dwh_batch_id")
          .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
          .sortBy(bucketCols.head, bucketCols.tail: _*)
          .option("path", s"$warehouse/$table")
          .format("parquet")
          .saveAsTable(name)
      }
      val n = obs.get("n").asInstanceOf[Long]
      log("write", table, "SUCCESS", n)
      n
    }

    /** Re-attach an existing bucketed warehouse table to a catalog that
      * does not know it (the durable-files / fresh-catalog case): CREATE
      * TABLE with the on-disk schema + the bucket spec, then recover the
      * batch partitions. The bucket spec must match what the files were
      * written with — bucket file names carry the bucket id, and the
      * read path trusts the catalog.
      */
    def ensureBucketedRegistered(table: String, bucketCols: Seq[String],
                                 numBuckets: Int): Unit = {
      val name = catalogName(table)
      if (spark.catalog.tableExists(name)) return
      val path = s"$warehouse/$table"
      val dataCols = spark.read.parquet(path).schema
        .filterNot(_.name == "dwh_batch_id")
        .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
      val bk = bucketCols.map(c => s"`$c`").mkString(", ")
      spark.sql(
        s"""CREATE TABLE $name ($dataCols, dwh_batch_id STRING)
           USING PARQUET
           PARTITIONED BY (dwh_batch_id)
           CLUSTERED BY ($bk) SORTED BY ($bk) INTO $numBuckets BUCKETS
           LOCATION '$path'""")
      spark.sql(s"MSCK REPAIR TABLE $name")
    }

    /** Catalog read of a bucketed layer table — reads MUST go through
      * the catalog (spark.table), not the path: a path read has no
      * bucket metadata and silently loses the shuffle-free property.
      */
    def readBucketed(table: String): DataFrame =
      spark.table(catalogName(table))

    private def catalogName(table: String): String = table.replace('/', '_')

    // positional insert: align to the catalog column order (partition
    // column last); dynamic overwrite scopes the write to this batch's
    // partition, and the bucket spec comes from the table metadata.
    // insertInto does NOT read writer-level options (unlike the
    // path-based save), so dynamic mode must be set on the session conf
    // for the duration of the insert — static mode would drop every
    // other batch's partition.
    private def insertBucketed(withBatch: DataFrame, name: String): Unit = {
      val key = "spark.sql.sources.partitionOverwriteMode"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "dynamic")
      try {
        val cols = spark.table(name).schema.fieldNames
        withBatch.select(cols.map(col).toIndexedSeq: _*)
          .write.mode(SaveMode.Overwrite)
          .insertInto(name)
      } finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }

    /** ONE lease-aware lock acquire for every compaction/GC plane
      * (compactBatches, vacuumCompacted, the audit-log fold/GC): fresh
      * acquire is silent; a STALE lock (older than the configured
      * [[WarehouseFs.LeaseConf]] lease) is reclaimed with a loud WARN
      * audit row; a live (or lease-disabled) lock refuses with the
      * holder's stamp and both remedies named.
      */
    private def acquireMaintenanceLock(lock: String, step: String,
                                       target: String): Unit =
      WarehouseFs.acquireLease(lock) match {
        case Right(None) => ()
        case Right(Some(stale)) =>
          log(step, target, "WARN", 0,
            s"stale maintenance lock RECLAIMED at $lock: $stale")
          flushAudit()
        case Left(holder) =>
          throw new IllegalArgumentException(
            s"another compaction/GC holds $lock ($holder) — the live " +
              "layout is intact (pointers only advance at commit); if " +
              "the holder crashed, delete the lock or set " +
              s"${WarehouseFs.LeaseConf} so stale locks reclaim " +
              "automatically, then re-run")
      }

    /** Maintenance: bin-pack the small files of a layer table's batch
      * partitions into ~`targetBytes` files. Daily batch partitions
      * each land a task-count's worth of files; after a year of
      * batches a 100 TB scan is METADATA-bound (file listing + footer
      * reads + one task per tiny file) long before it is IO-bound —
      * periodic compaction is what keeps file count proportional to
      * data size, not to ingest cadence.
      *
      * Per partition: if the current LIVE layout has more files than
      * the byte-optimal count (+1 slack so a well-packed partition is
      * never rewritten), the partition is re-read, repartitioned to
      * ceil(bytes/targetBytes), STAGED into a hidden generation dir
      * inside the partition, and COMMITTED by one atomic publish of
      * the partition's generation pointer
      * ([[graft.sources.CompactedLayout]] — the ANN rebuild's
      * pointer-commit discipline applied per partition). No directory
      * is ever renamed, so the commit is atomic on EVERY store the
      * [[WarehouseFs]] port targets — HDFS, local, abfs AND s3a-class
      * object stores, where the old rename-swap design had to refuse:
      *
      *  - readers resolve the live layout through the pointer
      *    ([[graft.sources.CompactedLayout.read]] — what [[readTable]]
      *    plans through) and see the old files or the new, never a
      *    torn or absent partition;
      *  - a crash mid-staging leaves the pointer — and the live
      *    layout — untouched; the partial generation dir is invisible
      *    (hidden dir) and cleared when this partition is next
      *    compacted or GC'd;
      *  - the PREVIOUS layout (loose files or the prior generation) is
      *    PARKED as the in-flight-reader grace window and
      *    garbage-collected through [[vacuumCompacted]] — never
      *    deleted at commit time;
      *  - a RE-LAND of the partition (S8 dynamic overwrite) deletes
      *    the whole partition dir, pointer and generations included,
      *    reverting it cleanly to loose files (verified committer
      *    behavior — CompactionSpec pins it).
      *
      * A bloom-indexed partition's manifest (`_bloomidx/pid=`) is
      * refreshed over the new generation right after the commit (key
      * from the manifest's own key_col provenance), so point lookups
      * keep pruning; between the pointer publish and the manifest
      * refresh a lookup fails LOUDLY on the file-identity check (never
      * silently wrong), the same one-job-long window a crashed
      * writeBatchIndexed heal has.
      *
      * Compaction is content-preserving by construction (read →
      * repartition → write of the same rows) and IDEMPOTENT: a second
      * run finds every partition already at its optimal file count and
      * rewrites nothing. Bucketed tables are refused — bucket file
      * names carry the bucket id, and a blind repartition would break
      * the bucket-to-file mapping the catalog promises.
      *
      * @return (partition, filesBefore, filesAfter) per rewritten partition
      */
    def compactBatches(table: String, targetBytes: Long = 128L << 20,
                       minFiles: Int = 2): Seq[(String, Int, Int)] = {
      val name = catalogName(table)
      val bucketed = spark.catalog.tableExists(name) &&
        spark.sql(s"DESC FORMATTED $name").collect()
          .exists(r => r.getString(0).trim == "Num Buckets")
      require(!bucketed,
        s"$table is bucketed — compaction would break the bucket-to-file " +
          "mapping; rewrite through writeBucketedBatch instead")
      // pointer-redirected tables (tablePath resolves them away from
      // the raw warehouse path — today the ANN generation plane):
      // compacting one here would race its pointer commit, and a
      // raw-path scan would silently no-op on the empty legacy
      // location. Testing the PREDICATE, not a name blacklist, keeps
      // the guard covering any future generation-plane table
      // automatically — their compaction IS their rebuild, which
      // rewrites and repartitions every row behind the pointer
      require(tablePath(table) == s"$warehouse/$table",
        s"$table resolves through a generation pointer " +
          s"(${tablePath(table)}) — its rebuild (rebuildAnnIndex for " +
          "the ANN tables) rewrites and repartitions the whole table " +
          "behind the pointer; run that instead of compacting")
      import graft.sources.CompactedLayout
      val root = s"$warehouse/$table"
      // one compactor/GC at a time per table: real exclusion on
      // local/HDFS/conditional-create stores; on advisory stores the
      // UNIQUE staging names + the pre-commit re-checks below are the
      // backstop (a racing loser aborts without having touched the
      // winner's committed bytes). Lease-aware: a crashed holder's
      // stale lock reclaims after WarehouseFs.LeaseConf.
      acquireMaintenanceLock(CompactedLayout.lockPath(root),
        "compact", table)
      val done = try {
      val parts = WarehouseFs.list(root)
        .filter(d => d.isDirectory && d.getPath.getName.startsWith("dwh_batch_id="))
      // Partitions are independent (disjoint dirs, disjoint pointers) —
      // stage/commit them from a small thread pool so one partition's
      // write tail back-fills with the next partition's read (guide
      // §2.6: overlap independent jobs; 3 in flight is enough to fill
      // the tail without fighting for executors). Result order stays
      // the sorted partition order (futures awaited in order); the
      // audit log() is synchronized for exactly this overlap.
      def compactOne(part: org.apache.hadoop.fs.FileStatus)
          : Option[(String, Int, Int)] = {
        val partName = part.getPath.getName
        val partPath = part.getPath.toString
        val liveName = CompactedLayout.liveGenName(partPath)
        val gen = liveName.map(CompactedLayout.genNumber).getOrElse(0L)
        val livePath = liveName match {
          case Some(n) => s"$partPath/.cgen/$n"
          case None => partPath
        }
        // out-of-contract append detector: loose files NEWER than the
        // pointer were written into an already-compacted partition by
        // something other than the S8 writer (a re-land deletes the
        // whole dir, pointer included). The resolver cannot see them,
        // so compacting (or GC'ing) around them would finalize silent
        // data loss — refuse with the re-land prescription instead.
        if (gen > 0L) {
          val ptrTime = WarehouseFs.modTime(CompactedLayout.pointerPath(partPath))
          // >= : a tie in the store's timestamp granule is treated as
          // stray — a false refusal is loud and recoverable, a missed
          // append is silent loss
          val stray = WarehouseFs.list(partPath)
            .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet")
              && f.getModificationTime >= ptrTime)
          require(stray.isEmpty,
            s"compactBatches($table): $partName has ${stray.length} loose " +
              "file(s) at-or-after its compaction pointer's timestamp — " +
              "either something appended into a compacted partition " +
              "outside the S8 writer (the pointer-routed reads cannot " +
              "see those rows), or the partition landed and compacted " +
              "within ONE timestamp granule of this store (coarse mtime " +
              "stores tie the parked files with the pointer, and a tie " +
              "reads as stray BY DESIGN — a false refusal is loud, a " +
              "missed append is silent loss). Either way: re-land the " +
              "batch through writeBatch (the dynamic overwrite resets " +
              "the partition to loose files) before compacting again")
        }
        val files = WarehouseFs.list(livePath)
          .filter(_.getPath.getName.endsWith(".parquet"))
        val bytes = files.map(_.getLen).sum
        val nTarget = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
        if (files.length < math.max(minFiles, nTarget + 1)) None
        else {
          // clear crashed stagings and ancient parked generations —
          // every generation dir except the LIVE one. The grace window
          // for in-flight readers of the previous layout ends when the
          // NEXT rewrite of this partition begins (the ANN rebuild's
          // previous-generation retention, per partition).
          WarehouseFs.listNames(s"$partPath/.cgen")
            .filter(n => !liveName.contains(n))
            .foreach(n => WarehouseFs.deleteRecursive(s"$partPath/.cgen/$n"))
          // UNIQUELY named staging: a concurrent compactor (possible
          // only on advisory-lock stores) stages into a DIFFERENT dir,
          // so nobody can Overwrite bytes a winner already committed
          val stagingName = CompactedLayout.genDirName(gen + 1)
          val staging = s"$partPath/.cgen/$stagingName"
          // read the LIVE files explicitly — no basePath, so the frame
          // carries pure data columns and the staged files look exactly
          // like the loose files a writer produces (partition value
          // stays in the path, never in the bytes)
          // coalesce, not repartition (guide §2.4/§6): bin-packing
          // small files needs no row redistribution, so the full
          // shuffle of the partition's bytes (plus round-robin's
          // sort-before-repartition pass) was pure cost — coalesce
          // merges the reads straight into nTarget writers, moving
          // each byte exactly once. files.length > nTarget always
          // holds here (the rewrite-worthiness test above), so the
          // narrow coalesce can actually reach nTarget partitions.
          spark.read.parquet(files.map(_.getPath.toString): _*)
            .coalesce(nTarget)
            .write.mode(SaveMode.Overwrite).parquet(staging)
          // drop the _SUCCESS marker so the committed dir is data-only
          WarehouseFs.list(staging)
            .filterNot(_.getPath.getName.endsWith(".parquet"))
            .foreach(f => WarehouseFs.deleteFile(f.getPath.toString))
          val after = WarehouseFs.listNames(staging)
            .count(_.endsWith(".parquet"))
          // pre-commit re-check (the rebuildAnnIndex discipline,
          // defense in depth for the landing race): the staged
          // generation was derived from `files` — if the live set
          // changed during staging (a concurrent re-land deleted or
          // replaced the partition), committing would point readers at
          // data staged from the PRE-re-land rows. Abort loudly; the
          // staged dir is invisible and the re-run heals.
          val liveNow = WarehouseFs.list(livePath)
            .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
            .map(_.getPath.getName).toSet
          val liveBefore = files.map(_.getPath.getName).toSet
          if (liveNow != liveBefore)
            throw new IllegalStateException(
              s"compactBatches($table): $partName changed during staging " +
                s"(${(liveNow diff liveBefore).size} new / " +
                s"${(liveBefore diff liveNow).size} gone file(s) — a " +
                "concurrent re-land?) — refusing to commit the staged " +
                "generation; the live layout is untouched, re-run the " +
                "compaction")
          // advisory-lock backstops: (a) the pointer must still name
          // what it named at T0 — a concurrent compactor that won the
          // race advanced it, and committing over its fold would drop
          // it; (b) the staging must still be intact — a concurrent GC
          // (lock-blind on an advisory store) clears non-live gen dirs
          if (CompactedLayout.liveGenName(partPath) != liveName)
            throw new IllegalStateException(
              s"compactBatches($table): $partName's pointer advanced " +
                "during staging — a concurrent compactor won; this " +
                "staging is invisible, re-run if still needed")
          if (WarehouseFs.listNames(staging).count(_.endsWith(".parquet"))
              != after)
            throw new IllegalStateException(
              s"compactBatches($table): $partName's staged generation " +
                "was disturbed before commit (a concurrent GC?) — " +
                "refusing to publish a pointer at damaged staging; the " +
                "live layout is untouched, re-run the compaction")
          // THE COMMIT: root marker already published by the
          // dispatching thread below (a reader must be resolving
          // through pointers before any pointer exists — and ONE
          // publish per table removes the pool threads' marker race,
          // whose ChecksumFs crc rename collision escaped the benign-
          // race guard once under the r20 bench), then one atomic
          // pointer publish — old layout or new, never torn, on every
          // store. The previous layout is PARKED, not deleted:
          // vacuumCompacted is the GC.
          WarehouseFs.publishAtomic(
            CompactedLayout.pointerPath(partPath), stagingName)
          val id = partName.stripPrefix("dwh_batch_id=")
          if (WarehouseFs.exists(s"$root/_bloomidx/pid=$id"))
            refreshBloomAfterCompact(root, id, table)
          log("compact", table, "SUCCESS", 0,
            s"$partName: ${files.length} -> $after files " +
              s"(generation $stagingName pointer-committed)")
          Some((partName, files.length, after))
        }
      }
      val ordered = parts.sortBy(_.getPath.getName)
      // marker ONCE, on this thread, before any staging: the root
      // marker is table-level (partition-independent), and publishing
      // it from the pool threads raced three publishers against each
      // other for no benefit
      if (ordered.nonEmpty) CompactedLayout.ensureMarker(root)
      if (ordered.size <= 1) ordered.flatMap(compactOne)
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(3, ordered.size))
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutorService(pool)
        try {
          val fs = ordered.map(p => scala.concurrent.Future(compactOne(p)))
          fs.flatMap(f => scala.concurrent.Await.result(
            f, scala.concurrent.duration.Duration.Inf))
        } finally pool.shutdown()
      }
      } finally {
        // non-masking release (the rebuildAnnIndex discipline)
        scala.util.Try(
          WarehouseFs.deleteFile(CompactedLayout.lockPath(root))) match {
          case scala.util.Failure(e) =>
            log("compact", table, "WARN", 0,
              s"stale compaction lock: release of " +
                s"${CompactedLayout.lockPath(root)} failed " +
                s"(${String.valueOf(e.getMessage)}) — the outcome above " +
                "stands; delete the lock manually")
          case _ => ()
        }
      }
      flushAudit()
      done
    }

    /** Post-compaction Bloom manifest heal: the partition's manifest
      * rows name the PARKED files after a pointer commit, so point
      * lookups would fail the file-identity check until the manifest
      * is rebuilt over the live generation. The lookup key comes from
      * the manifest's own key_col provenance — compaction must not
      * guess a key the landing chose.
      */
    private def refreshBloomAfterCompact(root: String, id: String,
                                         table: String): Unit = {
      import graft.sources.ManifestRefresh
      val idxPart = s"$root/_bloomidx/pid=$id"
      val keys: Seq[String] = ManifestRefresh.readManifest(spark, idxPart)
        .toSeq.flatMap { m =>
          if (!m.columns.contains("key_col")) Seq.empty
          else m.select(col("key_col")).where(col("key_col").isNotNull)
            .distinct().collect().map(_.getString(0)).toSeq
        }
      if (keys.length != 1) throw new IllegalStateException(
        s"compactBatches($table): partition $id committed but its bloom " +
          s"manifest carries ${if (keys.isEmpty) "no" else "conflicting"} " +
          "key_col provenance — the manifest cannot be healed " +
          "automatically; re-land the batch through writeBatchIndexed " +
          "(the data partition is intact and pointer-committed)")
      graft.sources.BloomIndexLayout.refreshPartition(
        spark, root, "dwh_batch_id", id, keys.head)
    }

    /** Garbage-collect the PARKED layouts compaction leaves behind: for
      * every partition with a committed generation pointer, delete the
      * loose generation-0 files and every non-live generation dir. The
      * vacuum face of the compaction plane — run it once the in-flight-
      * reader grace window (a scan that planned against the previous
      * layout) has passed, e.g. on the retention cadence.
      *
      * After GC, a NAIVE plain read of the table root sees an empty
      * partition where the parked files were — every reader must
      * resolve through the pointer plane ([[readTable]] /
      * [[graft.sources.CompactedLayout.read]]), which the warehouse
      * contract already routes. Before GC the parked files keep plain
      * reads content-identical (compaction preserves content), which
      * is the migration grace for external readers.
      *
      * IDEMPOTENT (a second run finds nothing parked); deletes are
      * CHECKED (WarehouseFs); one audit row per cleaned partition.
      *
      * @return (partition, parkedFilesDropped, staleGenerationsDropped)
      */
    def vacuumCompacted(table: String): Seq[(String, Int, Int)] = {
      import graft.sources.CompactedLayout
      require(tablePath(table) == s"$warehouse/$table",
        s"$table resolves through a generation pointer " +
          s"(${tablePath(table)}) — its lifecycle op is rebuildAnnIndex")
      val root = s"$warehouse/$table"
      if (!CompactedLayout.isCompacted(root)) return Seq.empty
      // the compactor's lock: without it this GC could delete a
      // concurrently STAGED generation whose pointer is about to
      // publish (on advisory stores the compactor's staging-intact
      // pre-commit re-check is the backstop)
      acquireMaintenanceLock(CompactedLayout.lockPath(root),
        "vacuum_compact", table)
      val done = try CompactedLayout.partitionDirs(root).flatMap { partPath =>
        val partName = partPath.substring(partPath.lastIndexOf('/') + 1)
        val liveName = CompactedLayout.liveGenName(partPath)
        if (liveName.isEmpty) None // never compacted (or re-landed)
        else {
          val ptrTime =
            WarehouseFs.modTime(CompactedLayout.pointerPath(partPath))
          val loose = WarehouseFs.list(partPath)
            .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          // the compactBatches append detector, at the one place it
          // matters most: deleting a loose file NEWER than the pointer
          // would FINALIZE the data loss an out-of-contract append
          // started (the resolver never saw those rows)
          // >= : same-granule ties count as stray (false refusals are
          // loud; a miss here FINALIZES the loss)
          val stray = loose.filter(_.getModificationTime >= ptrTime)
          require(stray.isEmpty,
            s"vacuumCompacted($table): $partName has ${stray.length} " +
              "loose file(s) at-or-after its compaction pointer's " +
              "timestamp — an append outside the S8 writer (GC would " +
              "finalize the data loss), or a land-then-compact within " +
              "one timestamp granule of this store (a tie reads as " +
              "stray BY DESIGN — loud false refusal over silent loss). " +
              "Re-land the batch through writeBatch first")
          loose.foreach(f => WarehouseFs.deleteFile(f.getPath.toString))
          val stale = WarehouseFs.listNames(s"$partPath/.cgen")
            .filter(n => !liveName.contains(n))
          stale.foreach(n =>
            WarehouseFs.deleteRecursive(s"$partPath/.cgen/$n"))
          if (loose.isEmpty && stale.isEmpty) None
          else {
            log("vacuum_compact", table, "SUCCESS",
              loose.length.toLong,
              s"$partName: ${loose.length} parked files, " +
                s"${stale.length} stale generations dropped (live " +
                s"${liveName.get})")
            Some((partName, loose.length, stale.length))
          }
        }
      } finally {
        scala.util.Try(
          WarehouseFs.deleteFile(CompactedLayout.lockPath(root))) match {
          case scala.util.Failure(e) =>
            log("vacuum_compact", table, "WARN", 0,
              s"stale compaction lock: release failed " +
                s"(${String.valueOf(e.getMessage)}); delete " +
                s"${CompactedLayout.lockPath(root)} manually")
          case _ => ()
        }
      }
      flushAudit()
      done
    }

    /** Fold the audit log's per-flush small files
      * ([[graft.sources.AppendLogLayout.compact]]) — the audit plane is
      * the warehouse's highest-cadence small-file producer (one file
      * per Run stage-flush), and at production cadence its LISTING
      * dominates every restart/reprocess/watermark read long before
      * its bytes matter. Pointer-committed like every layout swap here
      * (atomic on object stores); concurrent flushes stay visible by
      * construction (the folded manifest names exactly the files the
      * fold read). The fold's own audit row is appended AFTER the
      * commit — a fresh loose file, visible immediately.
      *
      * @return (looseFolded, genFilesAfter), or None if too few loose
      *         files to be worth folding
      */
    def compactAuditLog(minLoose: Int = 8): Option[(Int, Int)] = {
      val out = graft.sources.AppendLogLayout.compact(
        spark, s"$warehouse/tools/audit_log", minLoose,
        onReclaim = info => {
          log("compact_audit", "tools/audit_log", "WARN", 0, info)
          flushAudit()
        })
      out.foreach { case (folded, after) =>
        log("compact_audit", "tools/audit_log", "SUCCESS", folded.toLong,
          s"$folded loose files folded -> $after generation file(s)")
        flushAudit()
      }
      out
    }

    /** GC the audit log's parked (folded) files and stale generations
      * ([[graft.sources.AppendLogLayout.vacuum]]) — run after the
      * in-flight-reader grace window, like [[vacuumCompacted]].
      */
    def vacuumAuditLog(): (Int, Int) = {
      val (files, gens) = graft.sources.AppendLogLayout.vacuum(
        s"$warehouse/tools/audit_log",
        onReclaim = info => {
          log("vacuum_audit", "tools/audit_log", "WARN", 0, info)
          flushAudit()
        })
      if (files + gens > 0) {
        log("vacuum_audit", "tools/audit_log", "SUCCESS", files.toLong,
          s"$files parked files, $gens stale generations dropped")
        flushAudit()
      }
      (files, gens)
    }

    /** Config-driven MAINTENANCE CADENCE — the plane that makes the
      * lifecycle ops operable: `tools/maintenance_config.json` rows
      * (ToolsConfig.loadMaintenance — the mv_refresh_config pattern,
      * mirroring the reference's config-driven refresh discipline,
      * sql/tools/ddl_tools.sql:70-110) name an op + target + `every`,
      * and this runner fires each op once per `every` landed batches.
      * Without it, compactBatches/compactAuditLog/vacuum* are manual
      * calls — and a fold nobody calls prevents nothing: the audit-log
      * small-file storm returns at production cadence the moment an
      * operator forgets the cron line. runConfiguredBatch calls this
      * after the MV stage, so editing a config row changes the
      * maintenance schedule with NO recompile.
      *
      * Bookkeeping is the refreshIfDue discipline verbatim, per
      * (op, target): each firing stamps its SUCCESS row with
      * `covers=<maxLandedBatchId>`; pending = landed batches with a
      * LATER id (zero-padded lexical order — the S9 contract), so a
      * replayed old id is never re-counted. Landed = distinct batch
      * ids with a write SUCCESS on the TARGET table for the table ops,
      * on ANY table for the audit-plane ops (every batch run flushes
      * audit rows, so any landing advances their clock).
      *
      * Failure scope: an unknown op or a refusing op (e.g. the
      * stray-append detector) lands a FAILED row for THAT op and the
      * runner continues — config error ≠ run abort (the transform
      * discipline); the op stays due and re-fires next landing once
      * healed.
      *
      * @return one (op, target, outcome) per enabled row:
      *         RAN / SKIPPED_CADENCE / FAILED
      */
    def runMaintenanceIfDue(): Seq[(String, String, String)] = {
      val rows = ToolsConfig.loadMaintenance(spark, warehouse)
      if (rows.isEmpty) return Seq.empty
      flushAudit() // the cadence reads the PERSISTED audit plane
      val path = s"$warehouse/tools/audit_log"
      rows.map { r =>
        val key = s"${r.op}:${r.target}"
        // the audit frame is re-resolved PER ROW: an earlier row's op
        // may have folded (compact_audit) or GC'd (vacuum_audit) the
        // very files a pass-wide plan captured at entry — a stale plan
        // would throw FileNotFound from a later row's bookkeeping and
        // abort the batch, violating the FAILED-row isolation below.
        // Cost: two filtered scans of the metadata-sized log per row
        // (the refreshIfDue budget); the fold itself is what keeps
        // those listings O(1) at production cadence.
        val audit =
          if (!WarehouseFs.exists(path)) None
          else Some(graft.sources.AppendLogLayout.read(spark, path))
        val landed: Seq[String] = audit.toSeq.flatMap { a =>
          val writes = a.where(col("step") === "write"
            && col("status") === "SUCCESS")
          val scoped =
            if (r.op == "compact_audit" || r.op == "vacuum_audit") writes
            else writes.where(col("target") === r.target)
          scoped.select("batchId").distinct().collect().map(_.getString(0))
        }
        val covered: String = audit.toSeq.flatMap(
          _.where(col("step") === "maintenance" && col("target") === key
              && col("status") === "SUCCESS"
              && col("message").startsWith("covers="))
            .select("message").collect().map(_.getString(0)))
          .map(_.split("\\|")(0).stripPrefix("covers="))
          .maxOption.getOrElse("")
        val pending = landed.filter(_ > covered)
        if (pending.size < r.every) {
          log("maintenance", key, "SKIPPED_CADENCE", 0,
            s"pending=${pending.size} < every=${r.every}")
          (r.op, r.target, "SKIPPED_CADENCE")
        } else {
          val stamp = s"covers=${(landed :+ covered).max}"
          try {
            val detail = r.op match {
              case "compact_batches" =>
                val done = compactBatches(r.target)
                s"$stamp|partitions=${done.length}"
              case "vacuum_compacted" =>
                val done = vacuumCompacted(r.target)
                s"$stamp|partitions=${done.length}"
              case "compact_audit" =>
                val done = compactAuditLog()
                s"$stamp|folded=${done.map(_._1).getOrElse(0)}"
              case "vacuum_audit" =>
                val (f, g) = vacuumAuditLog()
                s"$stamp|files=$f|gens=$g"
              case other => throw new IllegalArgumentException(
                s"unknown maintenance op '$other' — supported: " +
                  "compact_batches, vacuum_compacted, compact_audit, " +
                  "vacuum_audit")
            }
            log("maintenance", key, "SUCCESS", pending.size.toLong, detail)
            flushAudit()
            (r.op, r.target, "RAN")
          } catch {
            case e: Exception =>
              log("maintenance", key, "FAILED", 0,
                s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
              flushAudit()
              (r.op, r.target, "FAILED")
          }
        }
      }
    }

    /** S9: batch-pruned read of a layer table (partition pruning — the
      * filter prunes to the one batch directory).
      */
    def readBatch(table: String): DataFrame =
      readTable(table).where(col("dwh_batch_id") === batchId)

    /** Full (all-batches) read of a layer table — the MV refresh plane's
      * input: REFRESH MATERIALIZED VIEW recomputes over the WHOLE gold
      * table, not the triggering batch's slice (MV Refresh
      * Template.sql:30). Incremental layers use `readBatch`.
      *
      * Routed through the compaction pointer resolver
      * ([[graft.sources.CompactedLayout.read]]): a never-compacted
      * table costs one existence probe and plans the identical plain
      * scan; a compacted table reads each partition's live generation
      * with directory-inferred partition columns (pruning intact).
      */
    def readTable(table: String): DataFrame =
      graft.sources.CompactedLayout.read(spark, tablePath(table),
        mergeSchema = true)

    /** Snapshot (time-travel) read: the table AS OF a batch id. Batch
      * ids are zero-padded and lexically ordered, and under the S8
      * discipline every batch partition is an immutable increment —
      * so the historical state is exactly the partitions at or below
      * the cut, and the cut itself is ONE range partition filter
      * (pruned at planning, no data read outside the snapshot). The
      * Iceberg/Delta `VERSION AS OF` face of the batch-partitioned
      * warehouse.
      *
      * Retention guard: a snapshot at or below the table's vacuum
      * watermark REFUSES (the Delta/Iceberg retention contract) —
      * those partitions were dropped by [[vacuumBatches]], so the
      * filter would silently return a PARTIAL snapshot, the worst
      * failure mode time travel has. The watermark lives on the
      * persisted audit plane (one tiny read per AS-OF call — snapshot
      * reads are analytic, not hot-path).
      */
    def readTableAsOf(table: String, asOfBatch: String): DataFrame = {
      vacuumWatermark(table).foreach { w =>
        // the `>` comparison below is STRING order, correct only under
        // the zero-padded fixed-width batch-id convention (S9) — a
        // mixed-width probe (B2 vs B10) would silently mis-gate, so
        // the convention is enforced at the guard boundary
        require(asOfBatch.length == w.length,
          s"readTableAsOf($table, $asOfBatch): batch-id width " +
            s"${asOfBatch.length} != vacuum watermark '$w' width " +
            s"${w.length} — the retention guard compares ids " +
            "lexicographically and needs the zero-padded fixed-width " +
            "id convention; mixed widths would mis-gate snapshots")
        require(asOfBatch > w,
          s"readTableAsOf($table, $asOfBatch): snapshot at or below the " +
            s"vacuum retention watermark ($w) — those partitions were " +
            "dropped by vacuumBatches and the snapshot would be silently " +
            "PARTIAL; raise retention (keepLast) before vacuuming, or " +
            "re-land the vintage batches")
      }
      readTable(table).where(col("dwh_batch_id") <= asOfBatch)
    }

    /** Highest `watermark=` stamp among the table's SUCCESS vacuum
      * rows (zero-padded ids make string max the id max), or None if
      * the table was never vacuumed.
      */
    private def vacuumWatermark(table: String): Option[String] = {
      val path = s"$warehouse/tools/audit_log"
      if (!WarehouseFs.exists(path)) None
      else Option(graft.sources.AppendLogLayout.read(spark, path)
          .where(col("step") === "vacuum" && col("target") === table
            && col("status") === "SUCCESS"
            && col("message").startsWith("watermark="))
          .agg(max(col("message"))).head().getString(0))
        .map(_.stripPrefix("watermark="))
    }

    /** Retention maintenance — the VACUUM face of the batch-partitioned
      * warehouse: drop the OLDEST batch partitions of a layer table,
      * keeping the newest `keepLast`. At 100 TB retention is what keeps
      * a daily-ingest table from growing without bound once downstream
      * artifacts (MVs, indexes, exports) have consumed the vintage
      * batches — run it AFTER the consumers' cadence covers them.
      *
      * Contract surfaces:
      *  - the audit plane records one `vacuum` row with
      *    `watermark=<newest dropped id>`; [[readTableAsOf]] refuses
      *    snapshots at or below that watermark forever after (a partial
      *    snapshot is silent corruption; a refusal is a prescription);
      *  - IDEMPOTENT: a re-run finds nothing below the keep window and
      *    drops nothing (no audit row either — no-op means no-op);
      *  - a crash mid-drop is healed by the re-run (deletes are
      *    per-partition and ordered oldest-first, so the survivor set
      *    is always a suffix — never a gap);
      *  - `keepLast >= 1`: vacuuming a table to EMPTY is refused — that
      *    is a drop-table decision, not retention;
      *  - replaying a vacuumed batch id re-CREATES its partition (the
      *    S8 writer is deliberately not guarded — a deliberate re-land
      *    is the documented recovery path for an over-eager vacuum);
      *    the AS-OF guard stays conservative regardless;
      *  - on an ACCUMULATING input (e.g. indexes/graph_edges, whose
      *    whole-table refreshes recompute over every landed batch),
      *    retention is a WINDOWING decision: the next refresh computes
      *    on the retained vintages only. Deliberate for crawl-recency
      *    policies (rank the last N days of links); wrong for an
      *    immutable-corpus graph — there, don't configure retention
      *    (the opt-in default). GraphPlaneLifecycleSpec walks the
      *    sequence.
      *
      * @return the dropped batch ids, oldest first
      */
    def vacuumBatches(table: String, keepLast: Int): Seq[String] = {
      // the compactBatches refusal, for the same reason: a
      // catalog-registered bucketed table keeps partition metadata in
      // the metastore, and a directory delete underneath it strands
      // that metadata pointing at vanished files
      val name = catalogName(table)
      val bucketed = spark.catalog.tableExists(name) &&
        spark.sql(s"DESC FORMATTED $name").collect()
          .exists(r => r.getString(0).trim == "Num Buckets")
      require(!bucketed,
        s"$table is a catalog-registered bucketed table — vacuum it " +
          "through vacuumBucketedBatches (catalog partition drop + " +
          "checked file delete), not a directory delete the metastore " +
          "cannot see")
      // the compactBatches pointer-plane guard, for the same race: a
      // vacuum of indexes/ann_lists resolves tablePath into the LIVE
      // generation dir and would delete vintage partitions there while
      // a rebuild's pointer commit can land mid-drop — the drops
      // silently survive in the NEW generation while the audit row
      // records SUCCESS and a watermark for the logical table. Same
      // predicate (not a name blacklist), same prescription: the
      // generation plane's maintenance op is its rebuild.
      require(tablePath(table) == s"$warehouse/$table",
        s"$table resolves through a generation pointer " +
          s"(${tablePath(table)}) — vacuuming inside a generation dir " +
          "races the rebuild's pointer commit; retention for the ANN " +
          "plane is rebuildAnnIndex (which re-stages exactly the " +
          "retained vintages) after vacuuming the SOURCE tables")
      val root = tablePath(table)
      vacuumPlanned(table, keepLast) { id =>
        // a writeBatchIndexed table keeps a per-batch Bloom manifest
        // partition; drop it WITH (and before) its data partition —
        // a surviving manifest row naming vanished files turns every
        // subsequent point lookup into the stale-manifest refusal
        // (with a rebuild prescription that is wrong for this
        // state), while a data file briefly missing from the
        // manifest is merely unpruned/flagged, the conservative side
        WarehouseFs.deleteRecursive(s"$root/_bloomidx/pid=$id")
        WarehouseFs.deleteRecursive(s"$root/dwh_batch_id=$id")
      }
    }

    /** ONE retention planner for both vacuum planes ([[vacuumBatches]]
      * and [[vacuumBucketedBatches]]): the drop set comes from the
      * ON-DISK partition listing — the filesystem is the source of
      * truth, because a catalog-derived list would never re-see a
      * vintage whose catalog drop succeeded but whose file delete
      * crashed, leaking the bytes forever behind the durable SUCCESS
      * row (and MSCK on a fresh catalog would even resurrect them) —
      * with the keepLast floor, the fixed-width id convention, the
      * watermark-BEFORE-deletes ordering, and oldest-first drops.
      *
      * Watermark ordering rationale: a crash in any window leaves the
      * AS-OF guard conservative, never the data silently partial —
      * (a) after the flush but before the drops, the dirs still exist
      * and AS-OF refuses anyway (identical to the documented
      * deliberate-re-land state, which VacuumSpec pins); (b)
      * mid-drops, the survivor set is a suffix AND the watermark is
      * already durable; a watermark-after-drops ordering instead has
      * a window where every targeted dir is gone, the re-run no-ops,
      * and snapshots stay silently PARTIAL forever. Drops are CHECKED
      * (WarehouseFs verifies dirs are gone) — a blocked delete fails
      * the vacuum loudly instead of hiding behind the SUCCESS row.
      */
    private def vacuumPlanned(table: String, keepLast: Int)
                             (dropOne: String => Unit): Seq[String] = {
      require(keepLast >= 1,
        s"vacuum of $table: keepLast must be >= 1, got $keepLast — " +
          "vacuuming a table to empty is a drop-table decision, not " +
          "retention")
      val parts = WarehouseFs.list(tablePath(table))
        .filter(d => d.isDirectory
          && d.getPath.getName.startsWith("dwh_batch_id="))
        .map(_.getPath.getName)
        .sorted
      // the keep-window and watermark comparisons are STRING order —
      // correct only under the zero-padded fixed-width id convention
      // (S9). Enforce it HERE, where the wrong pick would silently
      // drop the wrong vintages and mis-gate snapshots forever
      val widths = parts.map(_.stripPrefix("dwh_batch_id=").length).distinct
      require(widths.size <= 1,
        s"vacuum of $table: mixed batch-id widths on disk " +
          s"(${widths.sorted.mkString(", ")} chars) — lexicographic " +
          "ordering would pick the wrong oldest vintages and record a " +
          "wrong watermark; re-land the off-width batches under the " +
          "zero-padded fixed-width id convention first")
      val drop = parts.dropRight(keepLast)
      if (drop.isEmpty) Seq.empty
      else {
        val ids = drop.map(_.stripPrefix("dwh_batch_id="))
        log("vacuum", table, "SUCCESS", drop.length.toLong,
          s"watermark=${ids.last}")
        flushAudit()
        ids.foreach(dropOne)
        ids
      }
    }

    /** [[vacuumBatches]] driven by the config plane: applies the
      * table's `retention_keep_last` from mv_refresh_config, and is a
      * NO-OP when none is configured — retention deletes data, so it
      * is opt-in per table (the ToolsConfig.retentionKeepLast
      * contract), unlike the refresh cadence's default-1.
      */
    def vacuumIfConfigured(table: String): Seq[String] =
      ToolsConfig.retentionKeepLast(spark, warehouse, table) match {
        case Some(keep) => vacuumBatches(table, keep)
        case None => Seq.empty
      }

    /** Retention for CATALOG-REGISTERED BUCKETED tables — the op
      * [[vacuumBatches]]' refusal prescribes: partitions are dropped
      * THROUGH the catalog (ALTER TABLE DROP PARTITION — the
      * metastore must stop naming the vintage before its files go, or
      * every catalog read plans against vanished files), then the
      * directory is deleted with the checked WarehouseFs delete —
      * bucketed tables are EXTERNAL (the warehouse owns the files), so
      * the catalog drop alone leaves the bytes behind. Watermark,
      * id-width, keepLast-floor, ordering (oldest first, audit row
      * BEFORE the drops) and the AS-OF refusal contract are
      * [[vacuumBatches]]' verbatim — one retention semantics, two
      * physical planes.
      *
      * @return the dropped batch ids, oldest first
      */
    def vacuumBucketedBatches(table: String, keepLast: Int): Seq[String] = {
      val name = catalogName(table)
      require(spark.catalog.tableExists(name),
        s"$table is not catalog-registered — for a plain path table use " +
          "vacuumBatches; for a bucketed warehouse on a fresh catalog, " +
          "re-register via ensureBucketedRegistered first")
      vacuumPlanned(table, keepLast) { id =>
        // catalog first (readers must stop planning the vintage), then
        // the checked file delete; a crash between the two leaves an
        // orphan directory the RE-RUN heals — the planner lists the
        // FILESYSTEM, so the orphan is re-planned, its catalog drop
        // no-ops (IF EXISTS) and the delete completes (a SHOW
        // PARTITIONS plan would never see it again, leaking the bytes
        // and letting a later MSCK resurrect the vintage)
        spark.sql(s"ALTER TABLE $name DROP IF EXISTS PARTITION " +
          s"(dwh_batch_id = '$id')")
        WarehouseFs.deleteRecursive(
          s"$warehouse/$table/dwh_batch_id=$id")
      }
    }

    /** S11: observed schema of an existing warehouse table. */
    def tableColumns(table: String): Seq[String] =
      graft.sources.CompactedLayout.read(spark, tablePath(table))
        .schema.fieldNames.toSeq

    /** Incremental-dedup index maintenance: append THIS batch's
      * content-key rows and LSH band-key rows to the two warehouse
      * index tables, through the same idempotent batch-partition write
      * as every layer table (S8 — a re-run replaces exactly its own
      * partition). Once a batch is indexed, later batches dedup against
      * the TABLES via [[dedupAgainstIndexes]]; the corpus documents are
      * never re-read, which is what makes incremental dedup O(batch)
      * instead of O(corpus) per day at 100 TB. Builders are the shared
      * batch/stream kernels (TextQueries.textKeyCol / minhashCol /
      * bandKeysCol), so the indexes cannot drift from the query logic.
      */
    def indexDedupBatch(docs: DataFrame): (Long, Long) = {
      import graft.queries.TextQueries.{bandKeysCol, minhashCol, textKeyCol}
      val keys = docs.select(col("doc_id"), textKeyCol.as("text_key"))
      // a null signature (doc under 3 words) contributes no band rows
      val bands = docs.select(col("doc_id"), minhashCol.as("mh"))
        .where(col("mh").isNotNull)
        .select(col("doc_id"), explode(bandKeysCol(col("mh"))).as("band_key"))
      (writeBatch(keys, "indexes/dedup_content_keys"),
        writeBatch(bands, "indexes/dedup_band_keys"))
    }

    /** Span-index maintenance: append THIS batch's DISTINCT word-8-gram
      * window hashes to the warehouse span index through the idempotent
      * batch-partition write (S8). The builder is the shared batch
      * kernel (TextQueries.windowPositionsOf), so the index cannot
      * drift from the span report/removal rows. Per-batch rows are the
      * batch's distinct hashes — duplicate-mass bounded, far below the
      * window stream.
      */
    def indexSpanBatch(docs: DataFrame): Long =
      writeBatch(
        graft.queries.TextQueries.windowPositionsOf(docs)
          .select(col("h")).distinct(),
        "indexes/span_window_hashes")

    /** Duplicated-span report for a new batch against the PERSISTED
      * span index — the table-backed production form of
      * q_text_dup_spans_incremental: a batch window is duplicated iff
      * its hash is in the corpus index (own batch partition excluded,
      * so a restart that already indexed this batch does not mark every
      * window as its own duplicate) OR occurs >= 2 times within the
      * batch; runs of marked positions merge to maximal spans via the
      * shared island aggregation. Cost scales with the BATCH.
      */
    def spanReportAgainstIndex(docs: DataFrame): DataFrame = {
      import graft.queries.TextQueries
      val pos = TextQueries.windowPositionsOf(docs)
      val corpus = readTable("indexes/span_window_hashes")
        .where(col("dwh_batch_id") =!= batchId)
        .select(col("h")).distinct()
      val inCorpus = pos.join(corpus, Seq("h"), "left_semi")
        .select(col("doc_id"), col("i"))
      val batchDup = pos.groupBy(col("h"))
        .agg(count(lit(1)).as("n")).where(col("n") >= 2).select(col("h"))
      val inBatch = pos.join(batchDup, Seq("h"), "left_semi")
        .select(col("doc_id"), col("i"))
      TextQueries.spanIslands(inCorpus.unionAll(inBatch).distinct())
    }

    /** Dedup a new batch of documents against the PERSISTED corpus
      * indexes — the table-backed production form of
      * q_dedup_incremental (which derives the same indexes from the
      * corpus scan because the driver contract gives it no warehouse).
      * Exact membership probes the content-key table, near membership
      * the band-key table; both ship only the batch side plus matching
      * index entries. The current batch's own partition is excluded so
      * a restart that already indexed this batch does not flag every
      * document as its own duplicate. Verdict columns come from the
      * same join shape the streaming face uses
      * (StreamingJobs.dedupIncrementalStream) — one code path, three
      * consumers.
      */
    def dedupAgainstIndexes(docs: DataFrame): DataFrame = {
      val corpusKeys = readTable("indexes/dedup_content_keys")
        .where(col("dwh_batch_id") =!= batchId)
        .select(col("text_key")).distinct()
      val corpusBands = readTable("indexes/dedup_band_keys")
        .where(col("dwh_batch_id") =!= batchId)
        .select(col("band_key")).distinct()
      graft.streaming.StreamingJobs.dedupIncrementalStream(
        docs, corpusKeys, corpusBands)
    }

    /** Media near-dup index maintenance (the [[indexDedupBatch]]
      * discipline on the PERCEPTUAL plane): append THIS batch's
      * (doc_id, h64, band_key) dHash band rows to the warehouse index
      * through the idempotent batch-partition write (S8 — a re-run
      * replaces exactly its own partition). Once a batch of payloads
      * is indexed, later ingests probe the TABLE via
      * [[mediaNeardupAgainstIndex]] — the media side stops recomputing
      * the corpus every run. The hash/band builders are the shared
      * MultimodalQueries kernels, so the index cannot drift from the
      * registered row or the streaming gate.
      *
      * @param media (doc_id, payload binary)
      */
    def indexMediaBatch(media: DataFrame): Long = {
      val hashes = media.select(col("doc_id"),
        graft.functions.MediaHash.dhash(col("payload")).as("h64"))
      writeBatch(
        graft.queries.MultimodalQueries
          .bandFrame(hashes, graft.queries.MultimodalQueries.bandKeys4)
          .join(hashes, "doc_id")
          .select(col("doc_id"), col("h64"), col("band_key")),
        "indexes/media_bands")
    }

    /** Probe a new batch of media payloads against the PERSISTED band
      * index — the table-backed production form of
      * q_multimodal_neardup_incremental: batch bands broadcast against
      * the index table (one map-side scan, no index reshuffle), exact
      * Hamming verify, deterministic best pick; cost O(batch x bucket)
      * + one index scan, never corpus². The current batch's own
      * partition is excluded so a restart that already indexed this
      * batch does not match every payload to itself (the
      * fuzzyMatchAgainstIndex argument).
      *
      * @param media (doc_id, payload binary)
      * @return (doc_id, is_dup, match_doc_id, hamming)
      */
    def mediaNeardupAgainstIndex(media: DataFrame): DataFrame = {
      val idx = readTable("indexes/media_bands")
        .where(col("dwh_batch_id") =!= batchId)
        .select(col("doc_id"), col("h64"), col("band_key")).distinct()
      graft.queries.MultimodalQueries.mediaNeardupProbe(
        media.select(col("doc_id"),
          graft.functions.MediaHash.dhash(col("payload")).as("h64")),
        idx)
    }

    /** Entity-resolution index maintenance: append THIS batch's
      * master-key deletion-variant rows to the warehouse fuzzy index
      * through the idempotent batch-partition write (S8 — a re-run
      * replaces exactly its own partition). Once a batch of master
      * keys is indexed, later ingests match against the TABLE via
      * [[fuzzyMatchAgainstIndex]]; the master list is never re-blocked,
      * which keeps per-ingest cost O(batch) — the
      * [[indexDedupBatch]] discipline on the near-KEY plane. The
      * neighborhood builder is the shared FuzzyJoin.deletionVariants,
      * so the index cannot drift from the registered row or the
      * streaming gate.
      */
    def indexFuzzyBatch(keys: DataFrame, keyCol: String,
                        maxDist: Int): Long =
      writeBatch(
        keys.select(col(keyCol).as("name_master")).distinct()
          .withColumn("__vh", explode(graft.operators.FuzzyJoin
            .deletionVariants(col("name_master"), maxDist)))
          .withColumn("__vh", xxhash64(col("__vh")))
          // the build depth is part of the index's CONTRACT (the
          // SymSpell theorem needs both sides at the same d), so each
          // batch records it for the probe's loud mismatch check
          .withColumn("__d", lit(maxDist)),
        "indexes/fuzzy_key_variants")

    /** Fuzzy-match a new batch of keys against the PERSISTED master
      * variant index — the table-backed production form of
      * q_dedup_fuzzy_incremental (which memoizes the same index because
      * the driver contract gives it no warehouse). The current batch's
      * own partition is excluded so a restart that already indexed this
      * batch does not match every key to itself. Probe semantics come
      * from the ONE shared builder (GraphQueries.fuzzyMatchKeys) — one
      * code path for the row, the table form, and (via the same
      * neighborhoods) the streaming gate.
      */
    def fuzzyMatchAgainstIndex(keys: DataFrame, keyCol: String,
                               maxDist: Int): DataFrame = {
      val rows = readTable("indexes/fuzzy_key_variants")
        .where(col("dwh_batch_id") =!= batchId)
      // LOUD depth check (one tiny distinct over a metadata-sized
      // column): the SymSpell losslessness theorem needs BOTH sides at
      // the same d — probing a depth-1 index at maxDist=2 would
      // silently drop true matches whose common variant needs two
      // master-side deletions, violating the fail-loudly discipline.
      // Batches landed before the __d column existed (missing column,
      // or null under mergeSchema) read as UNKNOWN depth and fail the
      // same require with the rebuild message — never an opaque
      // NPE/AnalysisException, and never a silent assume-it-matches.
      val depths: Seq[String] =
        if (!rows.schema.fieldNames.contains("__d")) Seq("unknown")
        else rows.select(col("__d")).distinct().collect()
          .map(r => if (r.isNullAt(0)) "unknown" else r.getInt(0).toString)
          .sorted.toSeq
      require(depths.forall(_ == maxDist.toString),
        s"fuzzy index depth mismatch: index batches were built at " +
          s"d=${depths.mkString(",")} but the probe asks d=$maxDist — " +
          "matches would be silently lost; rebuild the index at the " +
          "probe depth")
      val idx = rows.select(col("__vh"), col("name_master")).distinct()
      graft.queries.GraphQueries.fuzzyMatchKeys(
        keys.select(col(keyCol).as("name_new")).distinct(), idx, maxDist)
    }

    /** Link-graph warehouse plane, edge side — the [[indexDedupBatch]]
      * discipline applied to host ranks: each crawl/ingest batch lands
      * ITS OWN link edges (src, dst) into the warehouse edge table
      * through the idempotent S8 batch write, so a re-landed batch
      * replaces exactly its own partition and the edge corpus is never
      * re-derived from documents. Edges are batch-locally distinct
      * (within-batch link multiplicity is not rank signal in the
      * classic unweighted form; cross-batch duplicates are collapsed at
      * refresh time, where the whole graph is in view).
      */
    def indexGraphBatch(edges: DataFrame): Long =
      writeBatch(edges.select(col("src"), col("dst")).distinct(),
        "indexes/graph_edges")

    /** Link-graph warehouse plane, rank side. Ranks are a WHOLE-GRAPH
      * artifact — a new batch of edges shifts every node's fixpoint —
      * so this is a full refresh over the accumulated edge table (the
      * REFRESH MATERIALIZED VIEW shape, logged on the same mv_refresh
      * audit plane so the reprocess cycle heals a failed refresh), not
      * a batch-partitioned append. Cross-batch duplicate edges collapse
      * through ONE distinct here. Cost: the refresh is the PageRank
      * run's cost on the full edge table — production runs it per
      * batch-group or on a schedule, and every gate in between reads
      * the PERSISTED ranks for free.
      *
      * Dangling policy: crawl edge tables normally DO contain sinks
      * (discovered-but-uncrawled pages), so
      * `redistributeDangling = true` routes through
      * PageRank.runDanglingRedistributed (sinks keep rows, their mass
      * returns uniformly each round); the default `false` keeps the
      * classic face's loud refusal — an unexpected sink in a graph
      * CONTRACTED to be sink-free is feed corruption, and the refusal
      * lands on the audit plane below.
      */
    def refreshGraphRanks(iters: Int = 5,
                          redistributeDangling: Boolean = false,
                          note: String = ""): Long =
      refreshGraphArtifact("indexes/graph_host_ranks", note,
        directed = true)(edges =>
        if (redistributeDangling)
          graft.operators.PageRank.runDanglingRedistributed(
            spark, edges, iters)
        else graft.operators.PageRank.run(spark, edges, iters))

    /** ONE body for every whole-graph artifact refresh (ranks, HITS,
      * triangles, k-core, LPA communities — the faces-cannot-drift
      * rule applied to the plane itself): read the accumulated edge
      * table (DISTINCT on (src, dst) when `directed`: PageRank ranks
      * count multi-edges, and HITS's own directed distinct folds into
      * it; the undirected operators canonicalize and de-duplicate in
      * `GraphInput.undirected`, so a second exchange before theirs
      * would be waste), run the operator INSIDE the failure scope
      * (the runGated discipline — each operator's loud guards fire
      * eagerly during its build, and a guard refusal must reach the
      * audit plane exactly like a dead write, or failedTargets() never
      * surfaces the stale artifact), ride the row count on the write
      * as an Observation, stamp SUCCESS with the cadence note.
      */
    private def refreshGraphArtifact(target: String, note: String,
                                     directed: Boolean)
                                    (build: DataFrame => DataFrame): Long = {
      val obs = org.apache.spark.sql.Observation()
      try {
        val pairs = readTable("indexes/graph_edges")
          .select(col("src"), col("dst"))
        build(if (directed) pairs.distinct() else pairs)
          .observe(obs, count(lit(1)).as("n"))
          .write.mode(SaveMode.Overwrite)
          .parquet(s"$warehouse/$target")
      } catch {
        case e: Throwable =>
          log("mv_refresh", target, "FAILED", 0,
            String.valueOf(e.getMessage))
          throw e
      }
      val n = obs.get("n").asInstanceOf[Long]
      log("mv_refresh", target, "SUCCESS", n, note)
      n
    }

    /** Config-driven cadence engine for whole-corpus refresh artifacts
      * — the batching the full-fixpoint cost models prescribe
      * ("production runs it per batch-group or on a schedule"), wired
      * through the same mv_refresh_config plane that routes
      * full-vs-incremental for MVs: a `refresh_every = N` row for
      * `target` means one full refresh per N landed batches of
      * `inputTable`; gates in between read the PERSISTED artifact
      * (stale by contract, bounded by N), and a missing artifact still
      * refuses loudly at its gate — cadence never weakens that.
      *
      * Bookkeeping is audit-plane only (no new metadata file): each
      * cadenced refresh stamps its SUCCESS row with
      * `covers=<maxLandedBatchId>`; pending = landed input batches with
      * a LATER id (batch ids are zero-padded and lexically ordered —
      * the S9 snapshot contract). A replayed OLD batch id is therefore
      * not re-counted: replays rewrite their own partition without
      * changing the distinct input set, so the last refresh already
      * covers them. Skips are logged (SKIPPED_CADENCE) so the audit
      * plane shows why the artifact is N batches stale, and a manual
      * refresh call (no covers stamp) never advances the marker — it
      * can only make the next cadenced refresh early, never late.
      *
      * Cost: two filtered scans of the (tiny, buffer-flushed) audit
      * table per landing; a skip does no data-plane work at all —
      * which is the point: N landings amortize ONE full fixpoint.
      */
    /** Run INDEPENDENT maintenance thunks with bounded overlap
      * (optimization guide §2.6: actions are only sequential because
      * the driver calls them sequentially — one artifact's write/commit
      * tail back-fills executors with the next one's scan; 2-3 in
      * flight fills the tail without fighting for cores). Safe by the
      * plane's own contracts: each refresh owns a distinct target dir
      * and a distinct `covers=` cadence stamp, the audit buffer
      * ([[log]]/[[flushAudit]]) is synchronized, and the append-log
      * audit plane races nothing on concurrent appends. Submit the
      * heaviest thunk FIRST — FIFO scheduling gives the earlier job
      * the resources and back-fills its tail with the later ones.
      * Failures keep the per-op isolation: every thunk runs to
      * completion or to its own exception, and the first failure
      * rethrows only after ALL have finished (a FAILED artifact never
      * cancels its independent siblings).
      */
    def refreshOverlapped(parallelism: Int = 3)(ops: (() => Any)*): Unit = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.max(1, math.min(parallelism, ops.size)))
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      try {
        val fs = ops.map(op => scala.concurrent.Future(op()))
        val results = fs.map(f => scala.util.Try(scala.concurrent.Await
          .result(f, scala.concurrent.duration.Duration.Inf)))
        results.foreach(_.get) // rethrow the first failure, all complete
      } finally pool.shutdown()
    }

    private def refreshIfDue(target: String, inputTable: String)
                            (refresh: String => Long): Option[Long] = {
      val every = ToolsConfig.refreshCadence(spark, warehouse, target)
      flushAudit() // the cadence reads the PERSISTED audit plane
      val path = s"$warehouse/tools/audit_log"
      val audit =
        if (!WarehouseFs.exists(path)) None
        else Some(graft.sources.AppendLogLayout.read(spark, path))
      // ONE filtered read of the audit plane per cadence check; the
      // three facts below fold from its rows on the driver
      val rows = audit.toSeq.flatMap(_.where(col("status") === "SUCCESS" && (
          (col("target") === inputTable
            && col("step").isin("write", "ann_rebuild"))
          || (col("step") === "mv_refresh" && col("target") === target
            && col("message").startsWith("covers="))))
        .select("step", "batchId", "message").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))))
      val landed: Seq[String] =
        rows.collect { case ("write", b, _) => b }.distinct
      // a full REBUILD of the input table (ann_rebuild) rewrites every
      // row, so a dependent artifact is stale against the whole index —
      // but a rebuild retried under its ORIGINAL batch id would slip
      // past a batch-id watermark, so rebuilds are tracked by a COUNT
      // of their SUCCESS rows (the audit plane is append-only, so the
      // count is monotone even across same-id retries), carried in the
      // covers= stamp as `|rb=N`. Any uncovered rebuild makes the
      // refresh due immediately, bypassing `every`.
      val rebuilds: Long = rows.count(_._1 == "ann_rebuild").toLong
      val stamps: Seq[String] =
        rows.collect { case ("mv_refresh", _, m) => m }
      val covered: String = stamps
        .map(_.split("\\|")(0).stripPrefix("covers="))
        .maxOption.getOrElse("")
      val coveredRb: Long = stamps
        .flatMap(_.split("\\|").find(_.startsWith("rb="))
          .map(_.stripPrefix("rb=").toLong))
        .maxOption.getOrElse(0L)
      val pending = landed.filter(_ > covered)
      if (pending.size >= every || rebuilds > coveredRb)
        Some(refresh(
          s"covers=${(landed :+ covered).max}|rb=$rebuilds"))
      else {
        log("mv_refresh", target, "SKIPPED_CADENCE", 0,
          s"pending=${pending.size} < every=$every")
        None
      }
    }

    /** [[refreshIfDue]] around [[refreshGraphRanks]]: one whole-graph
      * rank fixpoint per `refresh_every` landed edge batches.
      * @return Some(rankRows) if a refresh ran, None on a cadence skip
      */
    def refreshGraphRanksIfDue(iters: Int = 5,
                               redistributeDangling: Boolean = false)
                              : Option[Long] =
      refreshIfDue("indexes/graph_host_ranks", "indexes/graph_edges")(
        note => refreshGraphRanks(iters, redistributeDangling, note))

    /** [[refreshIfDue]] around [[refreshKnnGraph]]: one whole-corpus
      * edge rebuild per `refresh_every` landed ANN list batches — the
      * kNN graph is the heaviest refresh on the plane, so it is the
      * first artifact a production config batches.
      */
    def refreshKnnGraphIfDue(k: Int = 5, nprobe: Int = 3): Option[Long] =
      refreshIfDue("indexes/knn_graph", "indexes/ann_lists")(
        note => refreshKnnGraph(k, nprobe, note))

    /** HITS hub/authority scores over the SAME warehouse edge table —
      * the second link-analysis artifact of the graph plane, refreshed
      * with the [[refreshGraphRanks]] contract verbatim: a whole-graph
      * fixpoint (a new batch of edges shifts every score), full refresh
      * over the accumulated edges, logged on the mv_refresh audit plane
      * so a failed refresh surfaces through failedTargets and the
      * reprocess cycle heals it. Hits.run's own loud guards (empty
      * graph, NULL endpoints) fire inside the failure scope, exactly
      * like PageRank's dangling guard above. Unlike PageRank there is
      * no dangling contract — sinks hold authority, sources hold
      * hubness — so there is no redistribute switch to carry.
      */
    def refreshHitsScores(iters: Int = 5, note: String = ""): Long =
      refreshGraphArtifact("indexes/graph_hits_scores", note,
        directed = true)(
        graft.operators.Hits.run(spark, _, iters))

    /** [[refreshIfDue]] around [[refreshHitsScores]] — the third
      * whole-graph artifact on the cadence plane, batched over the same
      * edge landings as the rank refresh (each artifact carries its own
      * covers= marker, so their cadences are independently
      * configurable).
      */
    def refreshHitsScoresIfDue(iters: Int = 5): Option[Long] =
      refreshIfDue("indexes/graph_hits_scores", "indexes/graph_edges")(
        note => refreshHitsScores(iters, note))

    /** Triangle counts + local clustering coefficient over the SAME
      * warehouse edge table — the community-density artifact of the
      * graph plane (near-clique neighborhoods separate colluding link
      * farms from organic hubs of equal degree), refreshed with the
      * [[refreshGraphRanks]] contract verbatim: whole-graph artifact
      * (one new edge can close triangles anywhere in its endpoints'
      * neighborhoods), full refresh over the accumulated distinct
      * edges, failures and successes on the mv_refresh audit plane.
      * Triangles.localCounts's loud guards (empty graph, NULL
      * endpoints) fire inside the failure scope.
      */
    def refreshTriangleCounts(note: String = ""): Long =
      refreshGraphArtifact("indexes/graph_triangle_counts", note,
        directed = false)(
        graft.operators.Triangles.localCounts(spark, _))

    /** [[refreshIfDue]] around [[refreshTriangleCounts]] — the wedge
      * join is the plane's second-heaviest refresh after the kNN graph,
      * so it batches over edge landings like the rank fixpoints.
      */
    def refreshTriangleCountsIfDue(): Option[Long] =
      refreshIfDue("indexes/graph_triangle_counts", "indexes/graph_edges")(
        note => refreshTriangleCounts(note))

    /** k-core membership over the SAME warehouse edge table — the
      * robust density gate of the graph plane ([[refreshGraphRanks]]
      * contract verbatim). The peel's loud round cap fires inside the
      * failure scope: a graph whose cascade outruns `maxRounds` lands
      * FAILED rather than persisting a SUPERSET of the core.
      */
    def refreshKCore(k: Int = 2, maxRounds: Int = 32,
                     note: String = ""): Long =
      refreshGraphArtifact("indexes/graph_kcore", note,
        directed = false)(
        graft.operators.KCore.peel(spark, _, k, maxRounds))

    /** [[refreshIfDue]] around [[refreshKCore]]. */
    def refreshKCoreIfDue(k: Int = 2, maxRounds: Int = 32): Option[Long] =
      refreshIfDue("indexes/graph_kcore", "indexes/graph_edges")(
        note => refreshKCore(k, maxRounds, note))

    /** Full core-number decomposition over the SAME warehouse edge
      * table — the production form the fixed-k gate's docstring names
      * ([[refreshGraphRanks]] contract verbatim): ONE ladder pass
      * persists every node's maximal k, so per-source thresholds read
      * the table instead of re-running the peel per k. The ladder's
      * loud round cap fires inside the failure scope: a capped run
      * would MISLABEL cores, so it lands FAILED, never a wrong table.
      */
    def refreshCoreNumbers(maxRounds: Int = 64, note: String = ""): Long =
      refreshGraphArtifact("indexes/graph_core_numbers", note,
        directed = false)(
        graft.operators.KCore.coreNumbers(spark, _, maxRounds))

    /** [[refreshIfDue]] around [[refreshCoreNumbers]]. */
    def refreshCoreNumbersIfDue(maxRounds: Int = 64): Option[Long] =
      refreshIfDue("indexes/graph_core_numbers", "indexes/graph_edges")(
        note => refreshCoreNumbers(maxRounds, note))

    /** Synchronous LPA communities over the SAME warehouse edge table
      * — the fifth whole-graph artifact of the plane
      * ([[refreshGraphRanks]] contract verbatim): mirror-farm / topic-
      * pocket clusters inside one crawl component, persisted for the
      * curation queries that slice by community. Fixed `rounds` is the
      * operator's determinism contract (synchronous LPA can
      * oscillate), so the artifact records round-K labels; its loud
      * guards fire inside the failure scope.
      */
    def refreshLpaCommunities(rounds: Int = 4, note: String = ""): Long =
      refreshGraphArtifact("indexes/graph_communities", note,
        directed = false)(
        graft.operators.LabelPropagation.run(spark, _, rounds))

    /** [[refreshIfDue]] around [[refreshLpaCommunities]]. */
    def refreshLpaCommunitiesIfDue(rounds: Int = 4): Option[Long] =
      refreshIfDue("indexes/graph_communities", "indexes/graph_edges")(
        note => refreshLpaCommunities(rounds, note))

    /** Per-document link-farm gate against the PERSISTED triangle
      * table — the table-backed production form of
      * q_graph_linkfarm_gate, through the ONE shared gate definition
      * (GraphQueries.linkFarmGateOf) so the faces cannot drift. A
      * missing artifact fails loudly with the refresh prescription
      * (the hostGateAgainstRanks contract) — an empty-join gate would
      * silently pass every document.
      */
    def linkFarmGateAgainstTriangles(docs: DataFrame): DataFrame = {
      val path = s"$warehouse/indexes/graph_triangle_counts"
      require(WarehouseFs.exists(path),
        s"triangle-count table missing at $path — land edges via " +
          "indexGraphBatch and run refreshTriangleCounts before gating")
      graft.queries.GraphQueries.linkFarmGateOf(
        docs, spark.read.parquet(path))
    }

    /** Per-document core-depth gate against the PERSISTED core-number
      * table — the table-backed production form of q_graph_core_gate,
      * through the ONE shared gate definition
      * (GraphQueries.coreGateOf) so the faces cannot drift. The
      * per-source threshold is a CALL-SITE choice reading the one
      * decomposition table — no re-peel per threshold, which is the
      * whole point of persisting core NUMBERS instead of a fixed-k
      * membership cut. A missing artifact fails loudly with the
      * refresh prescription (the hostGateAgainstRanks contract).
      */
    def coreGateAgainstNumbers(docs: DataFrame, minCore: Long): DataFrame = {
      val path = s"$warehouse/indexes/graph_core_numbers"
      require(WarehouseFs.exists(path),
        s"core-number table missing at $path — land edges via " +
          "indexGraphBatch and run refreshCoreNumbers before gating")
      graft.queries.GraphQueries.coreGateOf(
        docs, spark.read.parquet(path), minCore)
    }

    /** Per-document host-quality gate against the PERSISTED rank table
      * — the table-backed production form of q_graph_host_gate (which
      * memoizes the same ranks because the driver contract gives it no
      * warehouse). ONE shared gate definition
      * (GraphQueries.hostGateOf: broadcast rank join, explicit
      * known_host, rank-above-teleport keep) serves the registered row,
      * this table form, and the streaming face, so the three cannot
      * drift. A missing rank table fails loudly with the refresh
      * prescription — a silent empty join would gate every document as
      * unknown-host.
      */
    def hostGateAgainstRanks(docs: DataFrame): DataFrame = {
      val path = s"$warehouse/indexes/graph_host_ranks"
      require(WarehouseFs.exists(path),
        s"host rank table missing at $path — land edges via " +
          "indexGraphBatch and run refreshGraphRanks before gating")
      graft.queries.GraphQueries.hostGateOf(
        docs, spark.read.parquet(path))
    }

    /** ANN (IVF) warehouse index — the similarity-search sibling of
      * [[indexDedupBatch]]. The centroid table bootstraps ONCE from the
      * first NON-EMPTY indexed batch (a deterministic capped pick) and
      * every landed batch of embeddings is then assigned to its nearest
      * list against the PERSISTED centroids and appended to the list
      * table through the idempotent S8 write. Indexing a new batch is
      * O(batch x nlist) — the corpus is never re-assigned and the
      * centroids never recomputed, which is how a 100 TB vector corpus
      * absorbs a daily ingest. Retraining is a REBUILD, not a write
      * through this method: new centroids invalidate every stored
      * assignment, so a training job must replace the whole centroid
      * table directory AND re-index all batches (the S8 writer only
      * overwrites its own batch partition — it cannot atomically swap a
      * whole table). Distances are integer squared L2 on the quantized
      * lattice via the shared kernel + quantizer (VectorFunctions
      * .quantizedL2 / .lattice), so index-side and query-side numbers
      * are bit-identical.
      *
      * @param embeddings (vec_id, embedding array<float>) batch slice
      */
    def indexAnnBatch(embeddings: DataFrame, nlist: Int = 1024): Long = {
      import graft.functions.VectorFunctions.{lattice, quantizedL2}
      // a landing during a rebuild's staging window would assign against
      // centroids the commit is about to replace AND vanish in the
      // generation switch (the staged generation was derived before this
      // batch existed) — refuse loudly rather than lose a batch silently.
      // (Single-writer-per-warehouse is the deployment model — the
      // in-memory Manifest note in the header; this lock and the
      // re-checks below are belt-and-suspenders that turn most
      // out-of-model interleavings into loud failures.)
      require(!WarehouseFs.exists(annRebuildLockPath),
        s"an ANN index rebuild is staging ($annRebuildLockPath) — a " +
          "batch indexed now would be lost in the generation commit; " +
          "retry after the rebuild completes. A lock left by a CRASHED " +
          "rebuild is safe to delete: the generation pointer only " +
          "advances at commit, so the live index is intact and the " +
          "partial staging generation is invisible")
      // pin the generation for the post-write race check: a rebuild
      // that COMMITS during this landing moved the live index to a new
      // generation dir, stranding the partition just written
      val genAtEntry = Orchestrator.annGen(warehouse)
      val qv = embeddings.select(col("vec_id"), lattice(col("embedding")).as("qv"))
      // S10 on the index plane: an empty slice must not write — an
      // empty BOOTSTRAP would permanently lock in a zero-row centroid
      // table (the existence check would pass forever after)
      if (qv.isEmpty) {
        log("index", "indexes/ann_lists", "SKIPPED_EMPTY", 0)
        return 0L
      }
      if (!WarehouseFs.exists(tablePath("indexes/ann_centroids"))) {
        val seed = qv.orderBy(col("vec_id")).limit(nlist)
          .select(col("vec_id").as("cent_id"), col("qv").as("cv"))
        writeBatch(seed, "indexes/ann_centroids")
      }
      val cents = readTable("indexes/ann_centroids").select("cent_id", "cv")
      val assign = qv.crossJoin(broadcast(cents))
        .groupBy(col("vec_id"))
        .agg(min(struct(quantizedL2(col("qv"), col("cv")).as("d2"),
          col("cent_id").as("cent_id"))).as("best"))
        .select(col("vec_id"), col("best.cent_id").as("cent_id"))
      // the final write is INLINED (not writeBatch) so the audit verdict
      // is decided AFTER the post-write lock re-check: in the order-free
      // audit model a SUCCESS row is permanent (it drives resume's
      // SKIPPED_DONE, masks FAILED rows in failedTargets, and counts as
      // a landing for dependent cadences), so a partition the rebuild
      // swap is about to discard must log FAILED, never SUCCESS.
      if (alreadyDone("indexes/ann_lists")) {
        log("write", "indexes/ann_lists", "SKIPPED_DONE", 0)
        return spark.read.parquet(tablePath("indexes/ann_lists"))
          .where(col("dwh_batch_id") === batchId).count()
      }
      val obs = org.apache.spark.sql.Observation()
      assign.withColumn("dwh_batch_id", lit(batchId))
        .observe(obs, count(lit(1)).as("n"))
        .write
        .partitionBy("dwh_batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .mode(SaveMode.Overwrite)
        .parquet(Orchestrator.annGenDir(warehouse, genAtEntry) + "/lists")
      val n = obs.get("n").asInstanceOf[Long]
      // close the entry-check race, both arms: a rebuild IN FLIGHT
      // (lock held) derived its staged generation without this batch
      // and its commit will strand the partition; a rebuild that
      // already COMMITTED (generation advanced) stranded it in the
      // old generation dir. Either way: FAILED, re-land.
      if (WarehouseFs.exists(annRebuildLockPath)
          || Orchestrator.annGen(warehouse) != genAtEntry) {
        log("write", "indexes/ann_lists", "FAILED", 0,
          "a rebuild started or committed during the landing — the " +
            "staged generation predates this batch; re-land")
        throw new IllegalStateException(
          "an ANN rebuild started or committed while this batch was " +
            "indexing — its generation predates this batch and the " +
            "commit strands it; re-run indexAnnBatch for this batch " +
            "after the rebuild")
      }
      log("write", "indexes/ann_lists", "SUCCESS", n)
      n
    }

    /** Top-k ANN search against the PERSISTED index: probes rank the
      * centroid table (broadcast — nlist-bounded), fan out to their
      * `nprobe` nearest lists via the list table, and exact-rerank the
      * candidates against the stored vectors (bronze/embeddings) — the
      * plan touches only warehouse tables, with the one corpus-sized
      * shuffle being the candidate join on cent_id/vec_id. Ties break
      * deterministically on (distance, id) like the q_sim_ann family.
      *
      * @param probes (q_id, embedding array<float>)
      */
    /** Shared IVF candidate stream over the warehouse tables —
      * (q_id, vec_id, d2) for the search AND dedup faces, so a fix to
      * the probe discipline lands once. `excludeOwnBatch` drops the
      * current batch's list/vector partitions (the dedup face's
      * restart-safety contract); the search face keeps them.
      */
    private def annCandidateStream(probes: DataFrame, nprobe: Int,
                                   excludeOwnBatch: Boolean): DataFrame = {
      import graft.functions.VectorFunctions.{lattice, quantizedL2}
      import org.apache.spark.sql.expressions.Window
      val qp = probes.select(col("q_id"), lattice(col("embedding")).as("qq"))
      val cents = readTable("indexes/ann_centroids").select("cent_id", "cv")
      val byCent = Window.partitionBy(col("q_id"))
        .orderBy(col("d2"), col("cent_id"))
      // rank lists on (q_id, cent_id, d2) ONLY — carrying the 64-long
      // probe vector through the probes x nlist window exchange would
      // multiply the shuffled bytes ~20x; qp joins back on the nprobe
      // survivors (the ivfL2Cands shape)
      val lists = qp.crossJoin(broadcast(cents))
        .select(col("q_id"), col("cent_id"),
          quantizedL2(col("qq"), col("cv")).as("d2"))
        .withColumn("rk", row_number().over(byCent)).where(col("rk") <= nprobe)
        .select(col("q_id"), col("cent_id"))
        .join(qp, "q_id")
      def scoped(df: DataFrame): DataFrame =
        if (excludeOwnBatch) df.where(col("dwh_batch_id") =!= batchId) else df
      val assigned = scoped(readTable("indexes/ann_lists"))
        .select("vec_id", "cent_id")
      val stored = scoped(readTable("bronze/embeddings"))
        .select(col("vec_id"), lattice(col("embedding")).as("qv"))
      lists.join(assigned, "cent_id")
        .join(stored, "vec_id")
        .where(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          quantizedL2(col("qq"), col("qv")).as("d2"))
    }

    def annSearchIndexes(probes: DataFrame, k: Int = 5,
                         nprobe: Int = 3): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val byQ = Window.partitionBy(col("q_id")).orderBy(col("d2"), col("vec_id"))
      annCandidateStream(probes, nprobe, excludeOwnBatch = false)
        // dedup at CANDIDATE scale, not corpus scale: a vec_id
        // re-landed under a second batch id must not occupy two top-k
        // ranks, but distinct()-ing the full list/vector tables would
        // add two corpus-sized shuffles per search — the per-(q, vec)
        // min collapses replays (and takes the closer version if a
        // re-land ever changed an embedding, though the contract is
        // that corrections rewrite their ORIGINAL batch partition) and
        // reuses the q_id exchange the rank window needs anyway
        .groupBy(col("q_id"), col("vec_id")).agg(min(col("d2")).as("d2"))
        .withColumn("rank", row_number().over(byQ)).where(col("rank") <= k)
    }

    /** Near-dup verdicts for a NEW batch of embeddings against the
      * PERSISTED ANN index — the table-backed production form of
      * q_dedup_semantic_incremental (which memoizes the same artifacts
      * because the driver contract gives it no warehouse): probes rank
      * the broadcast centroid table, fan out to their `nprobe` nearest
      * lists, exact-rerank against the stored vectors, and a vector is
      * a near-dup iff its best corpus match (min d2, ties to the
      * smaller id) sits within `eps` on the quantized lattice. The
      * current batch's own list/vector partitions are excluded so a
      * restart that already indexed this batch does not flag every
      * vector as its own duplicate; unmatched vectors survive the left
      * join as explicit is_dup=false rows. Cost scales with the BATCH
      * x probed-list size — the corpus is never re-assigned.
      */
    def dedupAgainstAnnIndexes(embeddings: DataFrame, eps: Long,
                               nprobe: Int = 3): DataFrame = {
      val qp = embeddings.select(col("vec_id").as("q_id"), col("embedding"))
      val best = annCandidateStream(qp, nprobe, excludeOwnBatch = true)
        .where(col("d2") <= eps)
        // min-struct = (min d2, then min id): one map-side-combinable
        // aggregation, no window over the candidate stream
        .groupBy(col("q_id"))
        .agg(min(struct(col("d2"), col("vec_id"))).as("b"))
        .select(col("q_id").as("vec_id"),
          col("b.vec_id").as("dup_of"), col("b.d2").as("d2"))
      qp.select(col("q_id").as("vec_id"))
        .join(best, Seq("vec_id"), "left")
        .select(col("vec_id"), col("dup_of"), col("d2"),
          col("dup_of").isNotNull.as("is_dup"))
    }

    /** The ONE lock-file path of the ANN rebuild plane (guards in
      * [[indexAnnBatch]], the rebuild's entry require, and the release
      * all reference it). Created via [[WarehouseFs.createExclusive]]
      * — atomic on HDFS/local, advisory on S3 — and backed by the
      * pre-commit partition re-check, so a lost lock race aborts the
      * commit loudly instead of stranding a batch.
      */
    private def annRebuildLockPath =
      s"$warehouse/indexes/ann/_rebuild_lock"

    /** The REBUILD the [[indexAnnBatch]] contract promises: retrain the
      * centroids over every indexed vector (the shared Lloyd body —
      * graft.operators.LloydKmeans, the same trainer the query-plane
      * rows use), re-assign every landed batch against the new
      * centroids, and COMMIT via the generation pointer: both rebuilt
      * tables are staged into the NEXT generation directory
      * (`indexes/ann/g<N+1>/`), and one atomic small-file publish of
      * `indexes/ann/_live_gen` ([[WarehouseFs.publishAtomic]]) switches
      * every reader to them. No directory is ever renamed or parked —
      * the swap contract needs NO rename atomicity, so it holds on
      * HDFS, S3 and the local FS alike:
      *
      *  - readers resolve the live tables through the pointer
      *    ([[Orchestrator.tablePath]]) and see the old generation or
      *    the new one, never an absent or mixed pairing (the pointer
      *    publish is one atomic file replace);
      *  - a crash mid-staging leaves the pointer — and therefore the
      *    live index — untouched; the partial next-generation dir is
      *    invisible and the next rebuild clears it;
      *  - a crash between the pointer publish and the lock release
      *    leaves a fully-committed index plus a stale lock (delete it);
      *  - the PREVIOUS generation is retained as a grace window for
      *    in-flight readers that resolved the pointer before the
      *    commit, and is cleared when the NEXT rebuild begins.
      *
      * Population contract: the rebuild re-indexes exactly the vectors
      * the CURRENT list table holds — each (vec_id, batch) list row is
      * re-assigned using its same-batch stored embedding from
      * bronze/embeddings (a listed vector with no stored embedding
      * fails loudly in-plan: re-indexing would silently drop it from
      * the searchable corpus). Batch partitions are PRESERVED, so the
      * S8 replay discipline, snapshot reads, and the dedup face's
      * own-batch exclusion all survive the rebuild unchanged. A vec_id
      * re-landed under two batches trains ONCE (the distinct vector
      * set — replay multiplicity is not training signal) while its
      * list rows keep both batch partitions.
      *
      * Concurrency: the rebuild takes the lock file so
      * [[indexAnnBatch]] refuses for the staging window (a batch
      * indexed mid-rebuild would be stranded in the old generation), a
      * second concurrent rebuild refuses on the same lock, and —
      * defense in depth, the lock is advisory on object stores — the
      * list table's partition set is re-checked immediately before the
      * pointer publish and the rebuild ABORTS (live index untouched,
      * staging discarded by the next rebuild, FAILED audit row) if it
      * changed.
      *
      * Cost (100 TB): trainIters + 1 corpus scans against the broadcast
      * centroid frame plus one corpus-sized staged write — the
      * unavoidable full-table operation retraining is; everything else
      * in the index lifecycle stays O(batch).
      *
      * @return rows in the rebuilt list table
      */
    def rebuildAnnIndex(nlist: Int = 1024, trainIters: Int = 2): Long = {
      import graft.functions.VectorFunctions.lattice
      val gen = Orchestrator.annGen(warehouse)
      val centLivePath = tablePath("indexes/ann_centroids")
      val listLivePath = tablePath("indexes/ann_lists")
      require(WarehouseFs.exists(centLivePath)
          && WarehouseFs.exists(listLivePath),
        "no ANN index to rebuild — bootstrap by landing batches " +
          "through indexAnnBatch first")
      require(WarehouseFs.createExclusive(annRebuildLockPath),
        s"another ANN rebuild holds $annRebuildLockPath — if the holder " +
          "crashed, the live index is intact (the generation pointer " +
          "only advances at commit); delete the lock and re-run")
      def partsOf(dir: String): Set[String] =
        WarehouseFs.listNames(dir)
          .filter(_.startsWith("dwh_batch_id=")).toSet
      val nextGen = gen + 1
      val stageDir = Orchestrator.annGenDir(warehouse, nextGen)
      try {
        // discard any crashed rebuild's partial staging, and clear
        // every generation dir except the live one (the grace window
        // ends when the next rebuild begins) — by LISTING, not by
        // looping over generation numbers, so the cost stays O(dirs
        // on disk) forever
        WarehouseFs.listNames(s"$warehouse/indexes/ann")
          .filter(n => n.startsWith("g") && n.drop(1).nonEmpty
            && n.drop(1).forall(_.isDigit) && n.drop(1).toLong != gen)
          .foreach(n =>
            WarehouseFs.deleteRecursive(s"$warehouse/indexes/ann/$n"))
        val partsBefore = partsOf(listLivePath)
        val listed = readTable("indexes/ann_lists")
          .select(col("vec_id"), col("dwh_batch_id"))
        val stored = readTable("bronze/embeddings")
          .select(col("vec_id"), col("dwh_batch_id"),
            lattice(col("embedding")).as("qv"))
        val vs = listed.join(stored, Seq("vec_id", "dwh_batch_id"), "left")
          // in-plan loud guard (the FuzzyJoin assert_true idiom): a
          // listed vector with no stored embedding must kill the job,
          // not silently drop from the rebuilt index
          .where(coalesce(assert_true(col("qv").isNotNull,
            concat(lit("ann rebuild: listed vector "),
              col("vec_id").cast("string"),
              lit(" of batch "), col("dwh_batch_id"),
              lit(" has no stored embedding in bronze/embeddings"))),
            lit(true)))
        // train on the DISTINCT vector set: a vec_id re-landed under two
        // batches would otherwise be double-weighted in every centroid
        // mean (and shrink the distinct seed below nlist) — the rebuilt
        // centroids must equal a fresh training on the corpus, not on
        // the replay multiplicities (one shuffle, acceptable for the
        // full-table lifecycle op this already is; refreshKnnGraph
        // applies the same rule)
        val vsU = vs.select(col("vec_id"), col("qv"))
          .dropDuplicates("vec_id")
        val seed = vsU.orderBy(col("vec_id")).limit(nlist)
          .select(col("vec_id").as("cent_id"), col("qv").as("cv"))
        val cents = graft.operators.LloydKmeans.train(vsU, seed, trainIters)
        cents.withColumn("dwh_batch_id", lit(batchId))
          .write.partitionBy("dwh_batch_id").mode(SaveMode.Overwrite)
          .parquet(s"$stageDir/centroids")
        val newCents = spark.read.parquet(s"$stageDir/centroids")
          .select(col("cent_id"), col("cv"))
        val obs = org.apache.spark.sql.Observation()
        graft.operators.LloydKmeans.assignNearest(vsU, newCents)
          .join(listed, "vec_id") // back onto every (vec_id, batch) row
          .select(col("vec_id"), col("cent_id"), col("dwh_batch_id"))
          .observe(obs, count(lit(1)).as("n"))
          .write.partitionBy("dwh_batch_id").mode(SaveMode.Overwrite)
          .parquet(s"$stageDir/lists")
        val n = obs.get("n").asInstanceOf[Long]
        // refusal on concurrent landings (see header): the staged
        // generation was derived from partsBefore — committing over a
        // changed live set would silently drop the new batch
        val partsAfter = partsOf(listLivePath)
        if (partsAfter != partsBefore)
          throw new IllegalStateException(
            s"ann rebuild: list-table batches changed during staging " +
              s"(${(partsAfter diff partsBefore) ++
                (partsBefore diff partsAfter) mkString ", "}) — " +
              "refusing to commit (the staged generation predates " +
              "them); the live index is untouched, re-run the rebuild")
        // THE COMMIT: one atomic pointer publish switches every reader
        // to the staged generation — no rename, no absent window; the
        // old generation stays as the in-flight-reader grace window
        // until the next rebuild begins
        WarehouseFs.publishAtomic(
          Orchestrator.annPointerPath(warehouse), nextGen.toString)
        log("ann_rebuild", "indexes/ann_lists", "SUCCESS", n,
          s"nlist=$nlist iters=$trainIters; generation $gen -> $nextGen " +
            "committed via pointer publish")
        n
      } catch {
        case e: Throwable =>
          log("ann_rebuild", "indexes/ann_lists", "FAILED", 0,
            String.valueOf(e.getMessage))
          throw e
      } finally {
        // non-masking lock release: the CHECKED delete throws on a
        // store hiccup, and thrown from finally it would (a) mask the
        // real staging failure, or (b) on the success path fail the
        // call AFTER the pointer commit landed — the caller would see
        // failure for a committed rebuild that also logged SUCCESS.
        // A leaked lock is recoverable by the documented manual path
        // (the acquire message names it); a masked outcome is not.
        scala.util.Try(WarehouseFs.deleteFile(annRebuildLockPath)) match {
          case scala.util.Failure(re) =>
            log("ann_rebuild", "indexes/ann_lists", "WARN", 0,
              s"stale rebuild lock: release of $annRebuildLockPath " +
                s"failed (${String.valueOf(re.getMessage)}) — the " +
                "rebuild outcome above stands; delete the lock " +
                "manually before the next rebuild")
            flushAudit()
          case _ => ()
        }
      }
    }

    /** kNN graph as a warehouse table — the materialized form of the
      * query plane's memoized edge frame (q_sim_knn_graph's docstring
      * names this table as what a curation pipeline builds once per
      * corpus snapshot; its three consumers — graph export, recall
      * eval, mutual-kNN dedup — then probe it for free). ONE kernel
      * (graft.operators.KnnGraph.edges) serves both faces, so they
      * cannot drift; KnnGraphIndexSpec proves table ≡ memoized frame
      * on identical artifacts.
      *
      * Like [[refreshGraphRanks]], edges are a WHOLE-CORPUS artifact
      * (a new batch of vectors can displace anyone's neighbors), so
      * this is a full refresh on the mv_refresh audit plane — run it
      * per batch-group or on a schedule, gates read the persisted
      * edges in between. Inputs are the PERSISTED ANN artifacts:
      * centroids, list assignments (re-landed duplicates collapse
      * through one distinct), and the stored embeddings restricted to
      * the INDEXED population (a bronze batch never indexed must not
      * leak into the graph; a vector re-landed under two batches
      * carries identical embeddings by the correction contract, so
      * dropDuplicates on vec_id is deterministic).
      */
    def refreshKnnGraph(k: Int = 5, nprobe: Int = 3,
                        note: String = ""): Long = {
      import graft.functions.VectorFunctions.lattice
      val obs = org.apache.spark.sql.Observation()
      try {
        val cents = readTable("indexes/ann_centroids").select("cent_id", "cv")
        val assign = readTable("indexes/ann_lists")
          .select("vec_id", "cent_id").distinct()
        val stored = readTable("bronze/embeddings")
          .select(col("vec_id"), lattice(col("embedding")).as("qv"))
          .dropDuplicates("vec_id")
        val vs = assign.select(col("vec_id")).distinct()
          .join(stored, Seq("vec_id"), "left")
          // in-plan loud guard (the rebuildAnnIndex discipline): a
          // listed vector with no stored embedding must kill the
          // refresh, not silently vanish from the graph's searchable
          // corpus — exactly the state an over-eager retention vacuum
          // of bronze/embeddings (with ann_lists retaining vintage
          // batches) would produce
          .where(coalesce(assert_true(col("qv").isNotNull,
            concat(lit("knn refresh: listed vector "),
              col("vec_id").cast("string"),
              lit(" has no stored embedding in bronze/embeddings"))),
            lit(true)))
        val qa = vs.select(col("vec_id").as("q_id"), col("qv").as("qa"))
        // ship policy sized from the list table's row count (a metadata
        // aggregate over an already-read table, not a second data scan)
        val nEst = math.max(assign.count(), 1L)
        graft.operators.KnnGraph.edges(vs, cents, assign,
            graft.queries.TextQueries.shipAuto(spark, qa, nEst,
              graft.queries.SimQueries.EmbRowBytes),
            k, nprobe)
          .observe(obs, count(lit(1)).as("n"))
          .write.mode(SaveMode.Overwrite)
          .parquet(s"$warehouse/indexes/knn_graph")
      } catch {
        case e: Throwable =>
          log("mv_refresh", "indexes/knn_graph", "FAILED", 0,
            String.valueOf(e.getMessage))
          throw e
      }
      val n = obs.get("n").asInstanceOf[Long]
      log("mv_refresh", "indexes/knn_graph", "SUCCESS", n, note)
      n
    }

    // ------------------------------------------------------------------
    // Key-bucketed SCD merge plane (copy-on-write upsert).
    //
    // The reference rebuilds every dim wholesale per batch (TRUNCATE +
    // INSERT, tools.load_crm_cust_info_v1.sql); at 100 TB a dim rebuild
    // is a full-table write for a change batch that touches a fraction
    // of a percent of keys. These merges store the dim partitioned by
    // kb = pmod(xxhash64(key), nBuckets) and rewrite ONLY the buckets
    // the change batch hashes into: IO per merge is proportional to
    // touched-bucket bytes, not table bytes. The bucket list is the one
    // driver-side value (bounded by nBuckets — metadata plane); the
    // touched slice is read via partition pruning, joined once with the
    // batch, and written back through the same dynamic-partition
    // overwrite contract as S8 (a crash mid-write damages only touched
    // buckets, and re-running the merge heals them — change detection
    // makes replays no-ops). Pure-query faces of the same semantics are
    // oracle-checked as q_scd1_merge_apply / q_scd2_merge_apply
    // (queries/MergeQueries.scala); ScdMergeSpec proves untouched bucket
    // directories stay byte-identical across a merge.
    // ------------------------------------------------------------------

    private def bucketOf(key: String, nBuckets: Int) =
      pmod(xxhash64(col(key)), lit(nBuckets.toLong)).cast("int").as("kb")

    // The bucket count is a TABLE property, not a call-site choice: a
    // merge hashing keys over a different modulus than the layout was
    // written with joins nothing and silently double-inserts every key
    // (caught by ScdMergeSpec's streaming face in development). It is
    // persisted at init in an underscore-prefixed sidecar (ignored by
    // parquet readers, like _zonemap/_SUCCESS) and every merge resolves
    // it from there; the call-site value only seeds a table that does
    // not exist yet.
    private def writeScdBuckets(table: String, nBuckets: Int): Unit =
      WarehouseFs.publishAtomic(s"$warehouse/$table/_scd_nbuckets",
        nBuckets.toString)

    private def scdBuckets(table: String, fallback: Int): Int = {
      val p = s"$warehouse/$table/_scd_nbuckets"
      if (WarehouseFs.exists(p)) WarehouseFs.readString(p).trim.toInt
      else fallback
    }

    /** Bootstrap (or wholesale rebuild — the retrain-analog, see
      * [[indexAnnBatch]]'s rebuild note) of a key-bucketed SCD2 dim from
      * a full snapshot: every row becomes version 1, current, effective
      * from `effective`. Static overwrite — this is the one full-table
      * write in the dim's life.
      */
    def initScdDim(table: String, snapshot: DataFrame, key: String,
                   effective: java.sql.Date, nBuckets: Int = 64): Long = {
      val obs = org.apache.spark.sql.Observation()
      snapshot
        .withColumn("valid_from", lit(effective))
        .withColumn("valid_to", lit(null).cast("date"))
        .withColumn("is_current", lit(true))
        .withColumn("kb", bucketOf(key, nBuckets))
        .observe(obs, count(lit(1)).as("n"))
        .write.partitionBy("kb").mode(SaveMode.Overwrite)
        .parquet(s"$warehouse/$table")
      writeScdBuckets(table, nBuckets)
      val n = obs.get("n").asInstanceOf[Long]
      log("scd_init", table, "SUCCESS", n)
      n
    }

    /** SCD2 merge of a change batch into a dim created by
      * [[initScdDim]]: genuinely changed keys get their current version
      * closed (valid_to = effective − 1 day, the W3 convention) and a
      * new current version opened; unknown keys are inserted; no-op
      * re-emits (CDC feeds resend unchanged rows constantly) are
      * dropped. `updates` must carry one row per key — the SQL MERGE
      * "source matches multiple times" error — which is checked BEFORE
      * any write and fails the step loudly.
      *
      * Two jobs over the touched slice: one small aggregate to classify
      * the batch (and short-circuit an all-noop merge without rewriting
      * a single file), then the COW write. Both are partition-pruned to
      * the touched buckets.
      */
    def mergeScd2(table: String, updates: DataFrame, key: String,
                  attrCols: Seq[String], effective: java.sql.Date,
                  nBuckets: Int = 64): MergeStats = {
      val path = s"$warehouse/$table"
      val upd = updates
        .select((key +: attrCols).map(col): _*)
        .withColumn("kb", bucketOf(key, scdBuckets(table, nBuckets)))
      val touched = upd.select("kb").distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      if (touched.isEmpty) {
        log("scd_merge", table, "SKIPPED_EMPTY", 0)
        return MergeStats(Nil, 0, 0, 0)
      }
      val cur = spark.read.parquet(path)
        .where(col("kb").isin(touched.map(Int.box): _*))
      val curCurrent = cur.where(col("is_current"))
      val uRenamed = attrCols.foldLeft(upd)((d, c) =>
        d.withColumnRenamed(c, s"__u_$c"))
      val j = uRenamed.join(curCurrent, Seq("kb", key), "left")
      val same = attrCols.map(c => col(s"__u_$c") <=> col(c)).reduce(_ && _)
      val isInsert = col("is_current").isNull

      val st = j.agg(
        sum(when(isInsert, 1L).otherwise(0L)).as("ins"),
        sum(when(!isInsert && !same, 1L).otherwise(0L)).as("ver"),
        sum(when(!isInsert && same, 1L).otherwise(0L)).as("noop"),
        (count(lit(1)) - countDistinct(col(key))).as("dups")).head()
      val (ins, ver, noop) = (st.getLong(0), st.getLong(1), st.getLong(2))
      if (st.getLong(3) > 0) {
        log("scd_merge", table, "FAILED", 0,
          s"${st.getLong(3)} duplicate keys in change batch")
        flushAudit()
        throw new IllegalArgumentException(
          s"mergeScd2($table): change batch has ${st.getLong(3)} duplicate " +
            s"$key rows — a key may match at most once (SQL MERGE contract)")
      }
      if (ins + ver == 0) {
        log("scd_merge", table, "SKIPPED_NOOP", 0, s"noops=$noop")
        return MergeStats(Nil, 0, 0, noop)
      }

      val chg = j.where(isInsert || !same)
      // rewrite only buckets holding an actual insert/version — a batch
      // where bucket 7's updates are all no-ops must not rewrite bucket 7
      val chgBuckets = chg.select("kb").distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      val outCols = Seq(col("kb"), col(key)) ++ attrCols.map(col) ++
        Seq(col("valid_from"), col("valid_to"), col("is_current"))
      val opened = chg.select(
        (Seq(col("kb"), col(key)) ++ attrCols.map(c => col(s"__u_$c").as(c))): _*)
        .withColumn("valid_from", lit(effective))
        .withColumn("valid_to", lit(null).cast("date"))
        .withColumn("is_current", lit(true))
        .select(outCols: _*)
      val closeKeys = chg.where(!isInsert).select(col("kb"), col(key))
      val closed = curCurrent.join(closeKeys, Seq("kb", key), "semi")
        .withColumn("valid_to", date_sub(lit(effective), 1))
        .withColumn("is_current", lit(false))
        .select(outCols: _*)
      val passHist = cur.where(!col("is_current")).select(outCols: _*)
      val passCur = curCurrent.join(closeKeys, Seq("kb", key), "left_anti")
        .select(outCols: _*)
      val merged = passHist.unionByName(passCur)
        .unionByName(closed).unionByName(opened)
        .where(col("kb").isin(chgBuckets.map(Int.box): _*))

      merged.write.partitionBy("kb")
        .option("partitionOverwriteMode", "dynamic")
        .mode(SaveMode.Overwrite).parquet(path)
      log("scd_merge", table, "SUCCESS", ins + ver,
        s"buckets=${chgBuckets.mkString(",")} ins=$ins ver=$ver noop=$noop")
      MergeStats(chgBuckets, ins, ver, noop)
    }

    /** SCD1 merge (overwrite-in-place upsert) into a key-bucketed dim:
      * changed keys take the new attributes and bump `merge_version`;
      * inserts land at version 1; no-ops and untouched keys are
      * untouched. Same bucket-pruned COW machinery and duplicate-key
      * contract as [[mergeScd2]]; the dim is bootstrapped by writing the
      * snapshot with merge_version = 1 through this method against an
      * absent table.
      */
    def mergeScd1(table: String, updates: DataFrame, key: String,
                  attrCols: Seq[String],
                  nBuckets: Int = 64): MergeStats = {
      val path = s"$warehouse/$table"
      val upd = updates
        .select((key +: attrCols).map(col): _*)
        .withColumn("kb", bucketOf(key, scdBuckets(table, nBuckets)))
      val outCols = Seq(col("kb"), col(key)) ++ attrCols.map(col) :+
        col("merge_version")
      if (!WarehouseFs.exists(path)) {
        val obs = org.apache.spark.sql.Observation()
        upd.withColumn("merge_version", lit(1L))
          .select(outCols: _*)
          .observe(obs, count(lit(1)).as("n"))
          .write.partitionBy("kb").mode(SaveMode.Overwrite).parquet(path)
        writeScdBuckets(table, nBuckets)
        val n = obs.get("n").asInstanceOf[Long]
        log("scd_merge", table, "SUCCESS", n, "bootstrap")
        return MergeStats(Nil, n, 0, 0)
      }
      val touched = upd.select("kb").distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      if (touched.isEmpty) {
        log("scd_merge", table, "SKIPPED_EMPTY", 0)
        return MergeStats(Nil, 0, 0, 0)
      }
      val cur = spark.read.parquet(path)
        .where(col("kb").isin(touched.map(Int.box): _*))
      val uRenamed = attrCols.foldLeft(upd)((d, c) =>
        d.withColumnRenamed(c, s"__u_$c"))
      val j = uRenamed.join(cur, Seq("kb", key), "left")
      val same = attrCols.map(c => col(s"__u_$c") <=> col(c)).reduce(_ && _)
      val isInsert = col("merge_version").isNull
      val st = j.agg(
        sum(when(isInsert, 1L).otherwise(0L)).as("ins"),
        sum(when(!isInsert && !same, 1L).otherwise(0L)).as("upd"),
        sum(when(!isInsert && same, 1L).otherwise(0L)).as("noop"),
        (count(lit(1)) - countDistinct(col(key))).as("dups")).head()
      val (ins, chgN, noop) = (st.getLong(0), st.getLong(1), st.getLong(2))
      if (st.getLong(3) > 0) {
        log("scd_merge", table, "FAILED", 0,
          s"${st.getLong(3)} duplicate keys in change batch")
        flushAudit()
        throw new IllegalArgumentException(
          s"mergeScd1($table): change batch has ${st.getLong(3)} duplicate " +
            s"$key rows — a key may match at most once (SQL MERGE contract)")
      }
      if (ins + chgN == 0) {
        log("scd_merge", table, "SKIPPED_NOOP", 0, s"noops=$noop")
        return MergeStats(Nil, 0, 0, noop)
      }
      val chgBuckets = j.where(isInsert || !same).select("kb").distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      val applied = j.select(
        (Seq(col("kb"), col(key)) ++ attrCols.map(c =>
          when(isInsert || !same, col(s"__u_$c")).otherwise(col(c)).as(c)) :+
          when(isInsert, lit(1L))
            .when(!same, col("merge_version") + 1L)
            .otherwise(col("merge_version")).as("merge_version")): _*)
      val untouchedKeys = cur.join(uRenamed.select(col("kb"), col(key)),
        Seq("kb", key), "left_anti").select(outCols: _*)
      val merged = untouchedKeys.unionByName(applied.select(outCols: _*))
        .where(col("kb").isin(chgBuckets.map(Int.box): _*))

      merged.write.partitionBy("kb")
        .option("partitionOverwriteMode", "dynamic")
        .mode(SaveMode.Overwrite).parquet(path)
      log("scd_merge", table, "SUCCESS", ins + chgN,
        s"buckets=${chgBuckets.mkString(",")} ins=$ins upd=$chgN noop=$noop")
      MergeStats(chgBuckets, ins, chgN, noop)
    }

    /** S10 + transform step: run `f` over the batch slice of `source`
      * unless it is empty, writing to `target`. A failure quarantines
      * the input slice under failed/<target> (the file-plane analog of
      * the reference moving a bad file to failed/), logs FAILED, and
      * lets the rest of the batch continue — `reprocess` re-runs it
      * later under the same batch id.
      */
    def transform(source: String, target: String)
                 (f: DataFrame => DataFrame): Long = {
      val in = readBatch(source)
      if (in.isEmpty) { log("transform", target, "SKIPPED_EMPTY", 0); 0L }
      else try {
        val n = writeBatch(f(in).drop("dwh_batch_id"), target)
        log("transform", target, "SUCCESS", n)
        n
      } catch { case scala.util.control.NonFatal(e) =>
        // quarantine is best-effort: a failure to quarantine must not
        // mask the FAILED audit row the reprocess cycle keys off
        scala.util.Try {
          in.write
            .partitionBy("dwh_batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .mode(SaveMode.Overwrite)
            .parquet(s"$warehouse/failed/$target")
        }
        log("transform", target, "FAILED", 0,
          Option(e.getMessage).getOrElse(e.getClass.getName).take(500))
        0L
      }
    }

    /** Reprocess one quarantined target with the SAME batch id: read the
      * failed/ slice, re-apply the (fixed) transform, write the real
      * target idempotently, and clear the quarantine partition. The
      * SUCCESS audit row is what flips the target out of
      * `failedTargets` — no log rewriting.
      */
    def reprocess(target: String)(f: DataFrame => DataFrame): Long = {
      // the quarantine write is best-effort (a broken SOURCE read can't
      // be quarantined), and gold/MV failures never quarantine — give
      // those a contract error, not a confusing path-not-found
      if (!WarehouseFs.exists(s"$warehouse/failed/$target"))
        throw new IllegalStateException(
          s"no quarantined input for $target — the failure happened " +
            "before the input slice could be captured (or in a " +
            "gold/MV build); re-run the original stage instead")
      val in = spark.read.parquet(s"$warehouse/failed/$target")
        .where(col("dwh_batch_id") === batchId)
      val n = writeBatch(f(in).drop("dwh_batch_id"), target)
      log("reprocess", target, "SUCCESS", n)
      WarehouseFs.deleteRecursive(
        s"$warehouse/failed/$target/dwh_batch_id=$batchId")
      // a heal must be durably visible to `failedTargets` immediately —
      // the whole point of the reprocess cycle is clearing the books
      flushAudit()
      n
    }

    /** Did `target` reach a success state this batch? Counts: a
      * write-level SUCCESS / SKIPPED_DONE (data landed), a transform
      * SKIPPED_EMPTY (the S10 contract: an empty batch slice is a
      * success without a write — downstream builds see an empty slice,
      * not a missing dependency), in this Run's logs or — for a fresh
      * Run finishing a healed batch — in the persisted audit plane.
      * Validation-only SUCCESS rows and FAILED do NOT satisfy.
      */
    def satisfied(target: String): Boolean =
      logs.exists(l => l.target == target
        && ((l.step == "write"
              && (l.status == "SUCCESS" || l.status == "SKIPPED_DONE"))
            || (l.step == "transform" && l.status == "SKIPPED_EMPTY"))) ||
        alreadyDone(target) || completedOnDisk(target)

    // audit-plane fallback for dependency gating: a target written by a
    // PREVIOUS Run of this batch satisfies dependencies even when this
    // Run was constructed without resume (loaded lazily — a normal
    // first run never pays it because the in-memory log hits first)
    private lazy val completedOnDisk: Set[String] =
      completedTargets(spark, warehouse, batchId)

    /** Shared dependency-gated step loop for the config-driven DAGs:
      * steps run in run_order; a step with an unmet dependency logs
      * SKIPPED_DEPENDENCY and is not attempted (the reference's
      * dependency gate, scripts/gold_integration.py:152-192); a step
      * whose write throws logs FAILED and downstream dependents gate
      * off it in turn.
      */
    private def runGated(stepName: String,
                         steps: Seq[(IntegrationStep, () => DataFrame)])
                        (write: (IntegrationStep, () => DataFrame) => Unit): Unit = {
      steps.sortBy(_._1.runOrder).foreach { case (st, build) =>
        val unmet = st.dependsOn.filterNot(satisfied)
        if (unmet.nonEmpty)
          log(stepName, st.target, "SKIPPED_DEPENDENCY", 0,
            unmet.mkString(","))
        else try write(st, build)
        catch { case scala.util.control.NonFatal(e) =>
          log(stepName, st.target, "FAILED", 0,
            Option(e.getMessage).getOrElse(e.getClass.getName).take(500))
        }
      }
      flushAudit() // stage boundary: one audit file per gated stage
    }

    /** Config-table-driven integration DAG (tools.integration_config):
      * batch-partitioned idempotent writes, dependency-gated.
      */
    def integrate(steps: Seq[(IntegrationStep, () => DataFrame)]): Unit =
      runGated("integration", steps) { (st, build) =>
        writeBatch(build().drop("dwh_batch_id"), st.target); ()
      }

    /** Config-driven MV refresh (tools.mv_refresh_config analog): full
      * refresh = plain overwrite (REFRESH MATERIALIZED VIEW semantics,
      * scripts/refresh_mv.py), same dependency gating as integrate, row
      * counts observed on the write (no re-read).
      */
    def refreshViews(steps: Seq[(IntegrationStep, () => DataFrame)]): Unit =
      runGated("mv_refresh", steps) { (st, build) =>
        val obs = org.apache.spark.sql.Observation()
        build().observe(obs, count(lit(1)).as("n"))
          .write.mode(SaveMode.Overwrite).parquet(s"$warehouse/${st.target}")
        log("mv_refresh", st.target, "SUCCESS",
          obs.get("n").asInstanceOf[Long])
      }

    /** Incremental MV maintenance (scale extension — see
      * [[MvIncremental]]): reduce THIS batch's gold slices to each MV's
      * partial (the only fact-side work, delta-bounded), land the
      * partial through the S8 idempotent batch write (a rerun replaces
      * exactly its own partial — no double counting), then rebuild the
      * MV from the compact all-batches partial table. Dependency-gated
      * and FAILED-logged through the same `runGated` plane as full
      * refresh, so the reprocess cycle sees incremental MVs too.
      */
    def refreshViewsIncremental(
        steps: Seq[(IntegrationStep, MvIncremental.Spec)]): Unit = {
      if (steps.isEmpty) return
      // one delta scan shared by all partial builds, not one re-read
      // of the batch partition per MV (the delta is the expensive side
      // at scale; the dims are broadcast anyway). The reads are LAZY:
      // spark.read.parquet infers schema EAGERLY, so a missing upstream
      // (first batch whose gold integration failed) must surface as a
      // per-step FAILED row inside runGated — same degradation as the
      // full-refresh plane — not an AnalysisException that aborts the
      // whole configured batch before any audit row lands. A failed
      // lazy init rethrows on each access, so every step gets its own
      // FAILED row.
      lazy val factB = readBatch("gold/fact_sales")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      lazy val dimCB = readBatch("gold/dim_customers")
      lazy val dimPB = readBatch("gold/dim_products")
      var factLoaded = false
      def sharedFact(): DataFrame = { val f = factB; factLoaded = true; f }
      val specByTarget = steps.map { case (st, sp) => st.target -> sp }.toMap
      try runGated("mv_incremental",
        steps.map { case (st, sp) =>
          st -> (() => sp.partial(sharedFact(), dimCB, dimPB))
        }) { (st, build) =>
        val sp = specByTarget(st.target)
        val partialTable = s"mv_partials/${sp.name}"
        val built = build()
        writeBatch(built.drop("dwh_batch_id"), partialTable)
        // an all-empty partial plane is legitimate (e.g. a batch with no
        // late shipment for the chain MV): a partitioned empty write
        // creates the table directory (_SUCCESS only) but no partition
        // data, so rebuild from an empty frame of the partial's schema
        // instead of dying on the schema-less read
        val hasPartitions = WarehouseFs.list(s"$warehouse/$partialTable")
          .exists(f => f.isDirectory &&
            f.getPath.getName.startsWith("dwh_batch_id="))
        val partials =
          if (hasPartitions) readTable(partialTable).drop("dwh_batch_id")
          else built.drop("dwh_batch_id").limit(0)
        val obs = org.apache.spark.sql.Observation()
        sp.rebuild(partials)
          .observe(obs, count(lit(1)).as("n"))
          .write.mode(SaveMode.Overwrite)
          .parquet(s"$warehouse/${st.target}")
        log("mv_incremental", st.target, "SUCCESS",
          obs.get("n").asInstanceOf[Long])
      } finally if (factLoaded) factB.unpersist()
    }

    /** Convenience face for direct (non-config) use and the
      * equivalence spec: every spec maintained ungated, MVs written
      * under `<outPrefix>/mv_<name>`.
      */
    def refreshViewsIncremental(specs: Seq[MvIncremental.Spec],
                                outPrefix: String): Unit =
      refreshViewsIncremental(specs.map(sp =>
        IntegrationStep(s"$outPrefix/mv_${sp.name}", 0, Nil) -> sp))

    /** Manifest-driven start mode: the reference's per-file ingest loop
      * (handlers/batch_processing.py file plane) — every manifest entry
      * goes through the mapping gate + row QA + bronze write, and the
      * returned manifest carries each file's terminal status (the
      * in-memory analog of tools.file_audit_log status transitions).
      */
    def ingestManifest(manifest: Manifest,
                       load: FileEntry => DataFrame,
                       mappings: String => (Seq[MappingValidator.ColumnMapping], Seq[String])): Manifest = {
      val files = manifest.files.map { fe =>
        // per-file isolation: a corrupt file, a validator error, or a
        // dead bronze write marks THIS file FAILED (with an audit row
        // the reprocess cycle can see) and the loop continues
        val ok = try {
          val (maps, required) = mappings(fe.logicalName)
          ingest(load(fe), maps, required, s"bronze/${fe.logicalName}").isRight
        } catch { case scala.util.control.NonFatal(e) =>
          log("ingest", s"bronze/${fe.logicalName}", "FAILED", 0,
            Option(e.getMessage).getOrElse(e.getClass.getName).take(500))
          false
        }
        fe.copy(status = if (ok) "COMPLETED" else "FAILED")
      }
      val done = manifest.copy(files = files)
      // durable manifest contract: one atomic JSON artifact per batch,
      // rerun attempts preserved under _rerunN keys (ManifestStore)
      ManifestStore.save(warehouse, done)
      flushAudit()
      done
    }

    /** Ingest one inferred-schema source: mapping gate → typed bronze.
      * Failure quarantines the file (returns Left) instead of writing.
      */
    def ingest(df: DataFrame, mappings: Seq[MappingValidator.ColumnMapping],
               requiredCols: Seq[String], table: String): Either[String, Long] =
      MappingValidator.validate(df.schema, mappings) match {
        case m: MappingValidator.MappingMismatch =>
          log("mapping_validation", table, "FAILED", 0, m.toString)
          Left(m.toString)
        case MappingValidator.MappingOk =>
          log("mapping_validation", table, "SUCCESS", 0)
          val typed = MappingValidator.applyMapping(df, mappings)
          val report = RowValidator.validate(typed, requiredCols)
          // row-validation failures are logged but NON-fatal, matching
          // batch_processing.py:1217-1220 (warn-only)
          log("row_validation", table,
            if (report.passed) "SUCCESS" else "WARN",
            report.totalRows,
            s"dups=${report.duplicateRows} nulls=${report.nullCounts.values.sum}")
          Right(writeBatch(typed, table))
      }
  }

  /** Full reference lifecycle on the fixture batch: bronze → silver →
    * gold (dims before fact, as integration_config orders them) → MVs
    * (full refresh = overwrite). Everything past bronze is driven by
    * the CONFIG PLANE — the JSON rows under `tools/` loaded through ToolsConfig,
    * seeded with the reference DAG iff absent, never clobbered — so an
    * added/disabled/re-ordered row changes the run without recompiling
    * (the reference's `tools.*` tables, sql/tools/ddl_tools.sql:70-110).
    */
  def runFixtureBatch(spark: SparkSession, warehouse: String,
                      resume: Boolean = false): Run =
    runConfiguredBatch(spark, warehouse, ReferenceFixtures.BatchId, resume) { run =>
      // bronze (readers already apply the mapping; land them as-is)
      run.writeBatch(ReferenceFixtures.crmCustInfo(spark).drop("dwh_batch_id"), "bronze/crm_cust_info")
      run.writeBatch(ReferenceFixtures.crmPrdInfo(spark).drop("dwh_batch_id"), "bronze/crm_prd_info")
      run.writeBatch(ReferenceFixtures.crmSalesDetails(spark).drop("dwh_batch_id"), "bronze/crm_sales_details")
      run.writeBatch(ReferenceFixtures.erpCustAz12(spark).drop("dwh_batch_id"), "bronze/erp_cust_az12")
      run.writeBatch(ReferenceFixtures.erpLocA101(spark).drop("dwh_batch_id"), "bronze/erp_loc_a101")
      run.writeBatch(ReferenceFixtures.erpPxCatG1v2(spark).drop("dwh_batch_id"), "bronze/erp_px_cat_g1v2")
    }

  /** The batch lifecycle for ANY batch id: caller lands bronze via
    * `writeBronze` (the per-batch source plane), then the config-driven
    * silver → gold → MV stages run exactly as for the fixture batch —
    * the reference's successive-batch model (each batch delete-then-
    * inserts its own partitions; MVs full-refresh over all of them).
    */
  def runConfiguredBatch(spark: SparkSession, warehouse: String,
                         batchId: String, resume: Boolean = false)
                        (writeBronze: Run => Unit): Run = {
    ToolsConfig.writeDefaultsIfMissing(warehouse)
    val run = new Run(spark, warehouse, batchId, resume)
    val refDate = ReferenceFixtures.RefDate

    writeBronze(run)
    run.flushAudit() // bronze stage boundary

    // silver: transformation_config rows (the reference runs them
    // serially; they are independent per source table). A row's
    // source_config JSONB can override per-transform parameters —
    // here the reference date — without touching code.
    ToolsConfig.loadTransforms(spark, warehouse).foreach { t =>
      run.transform(t.source, t.target) { df =>
        ToolsConfig.silverTransforms.get(t.transform) match {
          case Some(f) => f(df, t.sourceConfig.getOrElse("ref_date", refDate))
          case None => throw new IllegalArgumentException(
            s"unknown transform '${t.transform}' for ${t.target}")
        }
      }
    }
    run.flushAudit() // silver stage boundary

    // gold: integration_config rows — dims before facts by run_order,
    // each step gated on its dependencies succeeding this batch
    run.integrate(ToolsConfig.loadSteps(spark, warehouse,
      ToolsConfig.integrationConfigPath(warehouse)).map { case (st, b) =>
      st -> ToolsConfig.resolve(ToolsConfig.goldBuilders, b, run, refDate)
    })

    // MVs: mv_refresh_config rows, gated on gold inputs. Per-row
    // `strategy` picks the refresh plan: "incremental" routes through
    // the partial-merge plane (MvIncremental) when the builder has a
    // merge decomposition; everything else — including an incremental
    // request the runner can't honor (the recursive chain) — takes the
    // reference-faithful full refresh.
    val incSpecs = MvIncremental.byBuilder(refDate)
    val (inc, full) = ToolsConfig.loadMvSteps(spark, warehouse).partition(
      ms => ms.strategy == "incremental" && incSpecs.contains(ms.builder))
    run.refreshViews(full.map(ms =>
      ms.step -> ToolsConfig.resolve(ToolsConfig.mvBuilders, ms.builder,
        run, refDate)))
    run.refreshViewsIncremental(inc.map(ms =>
      ms.step -> incSpecs(ms.builder)))

    // maintenance: maintenance_config rows (opt-in — absent file means
    // none), each op firing once per its `every` landed batches; a
    // failing op lands FAILED and never aborts the batch
    run.runMaintenanceIfDue()
    run
  }
}
