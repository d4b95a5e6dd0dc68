package graft.run

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Options, Path}
import org.apache.spark.sql.SparkSession

/** The warehouse maintenance plane's ONE filesystem seam: every
  * metadata/lifecycle operation (vacuum deletes, compaction swaps,
  * lock files, config/manifest/pointer files) goes through the Hadoop
  * `FileSystem` API resolved from the warehouse path's own scheme — a
  * `file:` warehouse runs on the local FS exactly as before, an
  * `hdfs:`/`s3a:` warehouse runs on the cluster store with zero code
  * change. The DATA plane (Spark readers/writers) was always
  * FS-agnostic; this closes the gap for the ops that keep the
  * warehouse alive.
  *
  * Semantics honesty (what each op guarantees per FS class):
  *  - deletes and single-file writes are safe everywhere;
  *  - [[publishAtomic]] (the commit primitive for pointer/config/
  *    manifest files) is atomic-replace everywhere that matters:
  *    FileContext rename-OVERWRITE on rename-based filesystems (one
  *    metadata op — a reader sees old or new, never absent or torn),
  *    and a DIRECT single-object PUT on object stores (atomic-visible
  *    replacement; a failed write aborts rather than close-committing
  *    a truncated object) — branch picked by the scheme table, since
  *    object-store FileContext renames are delete-then-copy;
  *  - directory renames are atomic ONLY on rename-based filesystems
  *    (HDFS, local, abfs) — so NOTHING in this repo swaps a directory:
  *    every layout commit (the ANN generation plane, per-partition
  *    compaction) goes through a pointer file published with
  *    [[publishAtomic]]; [[hasAtomicRenames]] remains the scheme
  *    classifier that picks publishAtomic's commit primitive;
  *  - [[createExclusive]] (lock files) is atomic create-if-absent on
  *    HDFS/local, and on object stores that advertise the
  *    conditional-create capability (If-None-Match PUT — probed per
  *    call); on stores without it the create is advisory
  *    (check-then-put) — every lock user in this repo documents that
  *    and backs the lock with a pre-commit state re-check, so a lost
  *    race fails loudly instead of tearing.
  *
  * Config resolution: the active Spark session's Hadoop conf (so
  * `--conf spark.hadoop.fs.s3a.*` credentials flow through), falling
  * back to the classpath configuration for the rare pre-session call.
  */
object WarehouseFs {

  private def conf(): Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  private def fsOf(p: Path): FileSystem = p.getFileSystem(conf())

  /** Schemes whose directory rename is a non-atomic client-side
    * copy+delete — a mid-swap crash there tears state the POSIX
    * reasoning assumes can't exist. (abfs/ADLS Gen2 and HDFS rename
    * server-side atomically; `file:` is POSIX.)
    */
  private val NonAtomicRenameSchemes =
    Set("s3", "s3a", "s3n", "gs", "wasb", "wasbs", "oss", "swift", "cos")

  /** Does `p`'s filesystem rename directories atomically? Callers that
    * swap directories (compaction) refuse when this is false and
    * prescribe the pointer-commit path instead.
    */
  def hasAtomicRenames(p: String): Boolean = {
    val scheme = Option(new Path(p).toUri.getScheme).getOrElse("file")
    !NonAtomicRenameSchemes.contains(scheme.toLowerCase)
  }

  def exists(p: String): Boolean = { val q = new Path(p); fsOf(q).exists(q) }

  /** Children of `p` (empty if `p` is missing). */
  def list(p: String): Seq[FileStatus] = {
    val q = new Path(p); val fs = fsOf(q)
    if (!fs.exists(q)) Seq.empty else fs.listStatus(q).toSeq
  }

  /** Child NAMES of `p` (empty if missing). */
  def listNames(p: String): Seq[String] =
    list(p).map(_.getPath.getName)

  def mkdirs(p: String): Unit = {
    val q = new Path(p)
    require(fsOf(q).mkdirs(q), s"mkdirs failed for $p")
  }

  /** CHECKED recursive delete: verifies the path is actually gone, so
    * a blocked/failed delete (permissions, store hiccup) fails the op
    * loudly instead of leaving a half-deleted tree behind a SUCCESS
    * audit row. A missing path is a no-op (idempotent re-runs).
    */
  def deleteRecursive(p: String): Unit = {
    val q = new Path(p); val fs = fsOf(q)
    if (fs.exists(q)) {
      val ok = fs.delete(q, true)
      require(ok && !fs.exists(q),
        s"delete of $p failed or left remnants — the store refused or " +
          "partially applied it; nothing downstream may assume it is gone")
    }
  }

  /** CHECKED single-file delete (same contract as [[deleteRecursive]]). */
  def deleteFile(p: String): Unit = {
    val q = new Path(p); val fs = fsOf(q)
    if (fs.exists(q)) {
      val ok = fs.delete(q, false)
      require(ok && !fs.exists(q), s"delete of $p failed")
    }
  }

  /** Modification time of `p` (store PUT time on object stores) — the
    * compaction plane's out-of-contract-append discriminator.
    */
  def modTime(p: String): Long = {
    val q = new Path(p); fsOf(q).getFileStatus(q).getModificationTime
  }

  def readString(p: String): String = {
    val q = new Path(p); val fs = fsOf(q)
    val len = fs.getFileStatus(q).getLen.toInt
    val buf = new Array[Byte](len)
    val in = fs.open(q)
    try in.readFully(0, buf) finally in.close()
    new String(buf, "UTF-8")
  }

  /** Atomic small-file publish — the COMMIT primitive for pointer,
    * config and manifest files. Two store classes, each given the
    * primitive that is actually atomic THERE, so the target is never
    * absent and never torn on either. The branch is picked by the
    * SCHEME TABLE ([[hasAtomicRenames]]), NOT by whether an
    * AbstractFileSystem binding exists — Hadoop ships an s3a binding
    * (core-default's fs.AbstractFileSystem.s3a.impl), and its
    * rename-OVERWRITE is delete-target-then-copy, exactly the absent
    * window this primitive exists to rule out:
    *
    *  - rename-based filesystems (HDFS, local, abfs): write a temp
    *    sibling, then FileContext rename-OVERWRITE — one atomic
    *    metadata op, readers see old or new; the temp is deleted on
    *    any failure (a leaked temp would accumulate on the metadata
    *    plane forever). A missing AbstractFileSystem binding on such a
    *    scheme is a configuration error and fails loudly;
    *  - object stores (s3a and friends): create the TARGET directly
    *    with overwrite — a single object PUT, which on S3-class stores
    *    is atomic-visible (the old object serves until the new PUT
    *    completes; the PUT itself happens at close()). A failed WRITE
    *    aborts the stream instead of closing it — a close() after a
    *    partial write would commit a truncated object, the one torn
    *    state the PUT semantics otherwise exclude. A tmp+rename there
    *    would be strictly worse: object-store rename is copy+delete
    *    with an absent window either way.
    */
  def publishAtomic(p: String, content: String): Unit = {
    val target = new Path(p); val fs = fsOf(target)
    fs.mkdirs(target.getParent)
    if (hasAtomicRenames(p)) {
      val ctx = FileContext.getFileContext(target.toUri, conf())
      val tmp = new Path(target.getParent,
        s".${target.getName}.${java.util.UUID.randomUUID()}.tmp")
      try {
        val out = fs.create(tmp, true)
        try out.write(content.getBytes("UTF-8")) finally out.close()
        ctx.rename(tmp, target, Options.Rename.OVERWRITE)
      } catch {
        case e: Throwable =>
          scala.util.Try(fs.delete(tmp, false))
          throw e
      }
    } else {
      val out = fs.create(target, true)
      var written = false
      try { out.write(content.getBytes("UTF-8")); written = true }
      finally {
        if (written) out.close()
        else {
          // abort, never close: close() IS the object PUT, and a PUT
          // of a half-buffered pointer is a torn commit. A stream
          // WITHOUT Abortable support (abort throws Unsupported) is
          // neither closed nor aborted — that leaks the buffer AND the
          // store client's connection slot, so the leak is LOGGED:
          // repeated publish failures exhausting the client pool must
          // be diagnosable, and silently swallowing the abort failure
          // was exactly how they would not be. Still the lesser evil
          // vs close(): a leaked slot degrades, a torn pointer lies.
          scala.util.Try(out.abort()) match {
            case scala.util.Failure(ae) =>
              System.err.println(
                s"[warehousefs] publishAtomic($p): write failed and " +
                  s"abort() also failed (${ae.getClass.getSimpleName}: " +
                  s"${String.valueOf(ae.getMessage)}) — stream neither " +
                  "closed nor aborted; a connection/buffer leaks. " +
                  "Repeated leaks can exhaust the store client's pool.")
            case _ => ()
          }
        }
      }
    }
  }

  /** Session conf: maintenance-lock lease in milliseconds. 0 (the
    * default) = leases OFF — a crashed holder's lock blocks its plane
    * until a human deletes it (the conservative failure mode). A
    * positive value makes every maintenance lock a LEASE: a lock older
    * than this is reclaimed with a loud audit row instead of blocking
    * forever — the operable form at fleet scale. Size it well above
    * the longest real fold/GC on the deployment: a too-short lease
    * reclaims a LIVE holder's lock and two compactors run — the
    * staging-intact + pointer pre-commit re-checks remain the safety
    * net there (the loser aborts loudly, committed state untouched).
    */
  val LeaseConf = "spark.graft.lock.lease.ms"

  private def configuredLeaseMs(): Long =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .flatMap(_.conf.getOption(LeaseConf)).map { raw =>
        // loud parse (the ToolsConfig intConfig discipline): a bare
        // NumberFormatException from every lock acquire would name
        // neither the conf nor the remedy
        try raw.trim.toLong
        catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"$LeaseConf is '$raw' — not a millisecond count; set a " +
              "plain integer (e.g. 3600000 for 1h) or unset it to " +
              "disable lease reclaim")
        }
      }.getOrElse(0L)

  /** Race-injection seam for specs ONLY: runs between a reclaim's
    * stamp and its read-back, where a second reclaimer's delete +
    * create + stamp can interleave. Production never sets it.
    */
  private[graft] var raceBeforeReadback: () => Unit = () => ()

  /** This process's lock-owner stamp (pid@host — diagnostics only). */
  private def ownerId(): String =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getName

  /** Acquire a maintenance lock at `p`, reclaiming a stale one when a
    * lease is configured ([[LeaseConf]]).
    *
    * @return Right(None) = acquired fresh; Right(Some(staleInfo)) =
    *         acquired by reclaiming a lock older than the lease (the
    *         caller MUST surface staleInfo loudly — an audit row);
    *         Left(holderInfo) = a live (or lease-disabled) lock blocks.
    *
    * Age comes from the lock file's store mtime (authoritative), the
    * owner stamp inside is diagnostics. The RECLAIM IS ADVISORY on
    * EVERY store: delete-then-create is not compare-and-swap, so two
    * reclaimers racing the same stale lock can interleave (B's delete
    * landing on A's freshly created lock) such that both believe they
    * won — even where createExclusive itself is a real mutex. Three
    * mitigations narrow and mostly detect the race — a staleness
    * RE-CHECK immediately before the delete (a lock another reclaimer
    * just re-created reads age≈0 and blocks this one), a unique token
    * in the stamp, and a post-stamp READ-BACK that aborts the loser
    * when the interleaving overwrote it — and the callers' pre-commit
    * re-checks (pointer + staging-intact) remain the correctness net,
    * as for every lock here. Size the lease so reclaim replaces the
    * manual crashed-holder recovery, never a contention path.
    */
  def acquireLease(p: String): Either[String, Option[String]] = {
    val leaseMs = configuredLeaseMs()
    def stamp(token: String): Unit = scala.util.Try(
      publishAtomic(p, s"owner=${ownerId()} token=$token " +
        s"acquired_ms=${System.currentTimeMillis()}"))
    def holderInfo(): String =
      (scala.util.Try(readString(p)).toOption.filter(_.nonEmpty)
        .getOrElse("<no owner stamp>")) +
        scala.util.Try(s" age_ms=${System.currentTimeMillis() - modTime(p)}")
          .getOrElse("")
    def freshToken(): String = java.util.UUID.randomUUID().toString
    if (createExclusive(p)) { stamp(freshToken()); Right(None) }
    else {
      val age = scala.util.Try(
        System.currentTimeMillis() - modTime(p)).getOrElse(-1L)
      if (age < 0) {
        // the holder released between our create-fail and the stat —
        // one immediate retry; a second loss is a genuine live holder
        if (createExclusive(p)) { stamp(freshToken()); Right(None) }
        else Left(holderInfo())
      } else if (leaseMs > 0 && age > leaseMs) {
        val stale = s"${holderInfo()} exceeded lease=${leaseMs}ms"
        // staleness re-check at the last instant: if another reclaimer
        // already deleted+recreated, the lock is FRESH now and this
        // delete would kill a live holder's lock
        val ageNow = scala.util.Try(
          System.currentTimeMillis() - modTime(p)).getOrElse(Long.MaxValue)
        if (ageNow <= leaseMs)
          Left(holderInfo() + " (reclaimed by another while checking)")
        else {
          deleteFile(p)
          if (createExclusive(p)) {
            val token = freshToken()
            // a stamp failure is NOT a lost race: the unstamped lock is
            // OURS, and reading it back would misread the blank as a
            // foreign takeover while the lock blocks the plane for a
            // whole further lease — release it and surface the store
            // error instead
            scala.util.Try(publishAtomic(p,
              s"owner=${ownerId()} token=$token " +
                s"acquired_ms=${System.currentTimeMillis()}")) match {
              case scala.util.Failure(e) =>
                scala.util.Try(deleteFile(p))
                Left(s"reclaimed the stale lock but could not stamp it " +
                  s"(${e.getClass.getSimpleName}: " +
                  s"${String.valueOf(e.getMessage)}) — lock released; " +
                  "re-run once the store recovers")
              case _ =>
                raceBeforeReadback() // spec seam: injects the racer
                // read-back: a racing reclaimer that deleted OUR lock
                // and stamped its own shows a foreign token — we lost;
                // abort without touching the lock (it is theirs now)
                val mine = scala.util.Try(readString(p)).toOption
                  .exists(_.contains(s"token=$token"))
                if (mine) Right(Some(stale))
                else Left(holderInfo() +
                  " (lost the reclaim race at read-back — another " +
                  "reclaimer holds the lock)")
            }
          } else Left(holderInfo() +
            " (stale lock reclaimed and immediately re-acquired by another)")
        }
      } else Left(holderInfo())
    }
  }

  /** Conditional-create path capability (HADOOP-19256: S3 conditional
    * writes — the If-None-Match PUT). Probed as a LITERAL string
    * because the bundled Hadoop 3.4.2's CommonPathCapabilities does
    * not export the constant yet; stores that implement it (recent
    * s3a with conditional creates enabled) answer true and make
    * create-if-absent genuinely atomic there too.
    */
  private[run] val ConditionalCreateCapability =
    "fs.capability.conditional.create"

  /** Atomic create-if-absent (lock files): true iff this call created
    * the file. Branches by store class:
    *
    *  - LOCAL (`file:` scheme): java.io.File.createNewFile — the POSIX
    *    O_EXCL create — because Hadoop's
    *    RawLocalFileSystem.create(overwrite=false) is a non-atomic
    *    exists-check + open (two local rebuilds could both acquire the
    *    lock in that window); this is the maintenance plane's one
    *    sanctioned JVM-local file call, and it exists only here;
    *  - stores ADVERTISING conditional-create support
    *    ([[ConditionalCreateCapability]] — recent s3a): the builder
    *    create with overwrite(false), which the store executes as an
    *    If-None-Match PUT — the lock is REAL there, exactly one caller
    *    wins even under concurrent remote writers;
    *  - HDFS (no capability flag, but the namenode create enforces
    *    exclusivity atomically): plain create(overwrite=false);
    *  - object stores WITHOUT the capability: the same call is
    *    advisory (HEAD-then-PUT) — callers back the lock with a
    *    pre-commit state re-check, so a lost race fails loudly
    *    instead of tearing.
    */
  def createExclusive(p: String): Boolean = {
    val q = new Path(p); val fs = fsOf(q)
    fs.mkdirs(q.getParent)
    // classify by the filesystem's own scheme, not its class: a
    // local-backed stand-in registered under an object-store scheme
    // (the test stubs, or a local-FS gateway to a store) must take
    // the branch its SCHEME contracts
    val scheme = Option(fs.getUri.getScheme).getOrElse("file").toLowerCase
    if (scheme == "file") {
      new java.io.File(fs.makeQualified(q).toUri.getPath).createNewFile()
    } else {
      val conditional =
        try fs.hasPathCapability(q, ConditionalCreateCapability)
        catch { case _: Exception => false }
      try {
        if (conditional) fs.createFile(q).overwrite(false).build().close()
        else fs.create(q, false).close()
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.nio.file.FileAlreadyExistsException => false
        case e: java.io.IOException
          if Option(e.getMessage).exists(m =>
            m.contains("already exists")
              // a lost conditional PUT surfaces as the store's 412
              || m.contains("PreconditionFailed")
              || m.contains("Status Code: 412")) =>
          false
      }
    }
  }
}
