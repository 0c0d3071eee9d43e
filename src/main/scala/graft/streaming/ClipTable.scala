package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Iceberg-style table layer over parquet with an exactly-once MERGE.
  *
  * No Iceberg runtime jar exists in this sandbox (SURVEY.md §7.0), so this
  * reproduces the two Iceberg properties the north rule needs, behind a
  * small API a real catalog could replace:
  *
  *   1. **Merge-on-read MERGE by key** — the reference's idempotent
  *      upsert sink (dataflowkit `storage/mongo.go:48-77`: deterministic
  *      key, re-runs overwrite rather than duplicate). A batch writes one
  *      delta and reads nothing back, so a micro-batch merge is O(batch),
  *      never O(table); readers resolve latest-wins per key over the
  *      latest compacted base plus the unfolded deltas, and compaction
  *      bounds how many deltas that is.
  *   2. **Replay idempotence by construction** — `foreachBatch` may replay
  *      a batch after failure; merge keeps the newest row per key
  *      (latest-batch-wins on `_batch_id`), so re-merging the same data is
  *      a fixed point and a crash mid-merge converges on retry. Commit
  *      markers under `_commits/` record batch completion for
  *      observability/lineage, not gating.
  *
  * Layout: one `<root>/delta/batch=<batchId>/` per merge, one
  * `<root>/compacted-v<N>/` per compaction (files clustered by the
  * `_bucket` hash column), per-batch commit markers under
  * `<root>/_commits/`. Readers list only live files. Merge-on-read is the
  * only layout: `mergeOnRead` accepts just `true` and stays so callers
  * that name it keep compiling.
  */
final case class ClipTable(root: String, keyCols: Seq[String], numBuckets: Int = 16,
    mergeOnRead: Boolean = true, gcGraceMs: Long = 300000L,
    leaseTimeoutMs: Long = 600000L, repairConflictPolicy: String = "fail") {
  require(mergeOnRead,
    "the copy-on-write layout (mergeOnRead = false) was removed; merge-on-read is the only layout")
  require(Seq("fail", "warn").contains(repairConflictPolicy),
    s"repairConflictPolicy must be 'fail' or 'warn', got '$repairConflictPolicy'")

  private def commitsDir: Path = Paths.get(root, "_commits")
  private def deltaDir(batchId: Long): Path = Paths.get(root, "delta", s"batch=$batchId")

  /** List a directory eagerly, closing the stream (Files.list holds an FD
    * until closed — a leak under sub-second triggers where recovery runs
    * every batch). */
  private def listDir(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.list(p)
      try {
        val buf = new scala.collection.mutable.ArrayBuffer[Path]
        val it = s.iterator()
        while (it.hasNext) buf += it.next()
        buf.toSeq
      } finally s.close()
    }
  private def nonEmptyDir(p: Path): Boolean = listDir(p).nonEmpty

  /** Table-format fingerprint. v2 = NUL-joined key columns in the bucket
    * hash (v1, round 1, used a space — same key strings could land in
    * different buckets across versions, and a merge that re-buckets
    * existing rows moves only the buckets it touches). Refusing a
    * mismatched table turns silent row loss into a loud error; migrate by
    * reading the old table and re-merging into a fresh root. */
  private def formatFile: Path = Paths.get(root, "_format")
  private val formatId = s"v2 keyDelim=nul buckets=$numBuckets keys=${keyCols.mkString(",")}"
  /** Refuses a table this build cannot read: a marker naming another
    * format, or files in a directory of an older build's layout, which
    * this reader would silently skip — `data/` (copy-on-write), or the
    * pre-versioned merge-on-read base `compacted/` and its swap trash
    * `_compact-trash/`. True when the marker exists. */
  private def checkFormat(): Boolean = {
    val marked = Files.exists(formatFile)
    if (marked) {
      val have = Files.readString(formatFile).trim
      require(have == formatId,
        s"table at $root was written with incompatible format '$have' (this build: '$formatId')")
    }
    for (old <- Seq("data", "compacted", "_compact-trash"))
      require(!nonEmptyDir(Paths.get(root, old)),
        s"table at $root holds files under $old/, a layout this build no longer " +
          "reads; re-merge into a fresh root")
    marked
  }
  private def checkOrStampFormat(): Unit = {
    if (!checkFormat()) {
      val hasData = nonEmptyDir(Paths.get(root, "delta")) || baseVersions.nonEmpty
      require(!hasData,
        s"table at $root predates the _format marker (round-1 layout); re-merge into a fresh root")
      Files.createDirectories(Paths.get(root))
      Files.writeString(formatFile, formatId)
    }
  }

  def committed(batchId: Long): Boolean =
    Files.exists(commitsDir.resolve(s"batch-$batchId"))

  private def keyExpr = concat_ws("\u0000", keyCols.map(c => col(c).cast("string")): _*)
  private def bucketOf = pmod(crc32(keyExpr), lit(numBuckets)).cast("int")

  /** Exactly-once MERGE of `batch` into the table, keyed by `keyCols`,
    * latest `_batch_id` wins: one delta write per batch (a single job, no
    * existing-data read, no renames); readers dedupe latest-batch-wins.
    *
    * Replay-safe WITHOUT a skip guard: the per-batch delta dir is
    * OVERWRITTEN on replay, so re-merging the same batch is a fixed point
    * (same dir, same keys, same `_batch_id`). That is exactly the
    * reference's idempotency mechanism — deterministic keys
    * + upsert (`/root/reference/scrape/scrape.go:604`,
    * `/root/reference/storage/mongo.go:48-77`). Skipping the work on
    * replay would also skip the stateful upstream of the foreachBatch
    * plan, which Spark's state-store commit tracking (rightly) rejects —
    * a replayed batch must re-commit its state versions. */
  def merge(batch: DataFrame, batchId: Long): Unit = synchronized {
    val spark = batch.sparkSession
    checkOrStampFormat()
    Files.createDirectories(commitsDir)
    batch
      .withColumn("_batch_id", lit(batchId))
      .withColumn("_part_id", spark_partition_id()) // per-partition lineage
      .withColumn("_bucket", bucketOf)
      .write.mode(SaveMode.Overwrite).parquet(deltaDir(batchId).toString)
    // Repair-contract check AFTER the write, on a read-back of the
    // just-written delta: checking the batch plan directly would
    // execute the stateful upstream a second time (state stores would
    // re-commit within one batch). On conflict under 'fail' the delta
    // is removed before throwing — readers list delta dirs
    // unconditionally, so leaving it would expose the stale rows the
    // contract exists to prevent.
    if (conflictsWithRepairs(spark,
        spark.read.parquet(deltaDir(batchId).toString), batchId)) {
      if (repairConflictPolicy == "fail") {
        deleteRecursively(deltaDir(batchId))
        failRepairConflict(batchId)
      } else warnRepairConflict(batchId)
    }
    commit(batchId)
  }

  // ------------------------------------------------- repair-key tracking
  //
  // repair() unconditionally wins the latest-wins tiebreak (RepairBand
  // batch ids), so a LIVE-STREAM write to a repaired key afterwards would
  // silently lose — forever. The contract ("only repair behind the
  // watermark") is ENFORCED, not just documented (ADVICE r4): every
  // repair records its key set under `_repairs/`, and every stream-band
  // merge is checked against it — `repairConflictPolicy = "fail"`
  // (default) aborts the batch loudly (replay hits the same wall until an
  // operator either routes the new data through repair() or relaxes the
  // policy); "warn" logs and proceeds, accepting the documented
  // staleness. Cost: zero while `_repairs/` is empty (the normal state);
  // after a repair, one broadcast semi-join probe per batch against the
  // bounded repaired-key set.
  //
  // Crash window: the key sidecar is written after the repair's merge
  // commits, so a crash between the two leaves repaired rows unrecorded —
  // re-running the same repair (idempotent by design) completes the
  // record. The sidecar is never GC'd: the precedence it tracks is
  // permanent by construction.

  private def repairKeysDir: Path = Paths.get(root, "_repairs")

  /** `incoming` is by-name: merge passes a read-back of its delta,
    * which costs a listing and a schema-inference job, so it must not be
    * built while `_repairs/` is empty. */
  private def conflictsWithRepairs(spark: SparkSession, incoming: => DataFrame,
                                   batchId: Long): Boolean = {
    if (batchId >= ClipTable.RepairBand) return false
    if (!nonEmptyDir(repairKeysDir)) return false
    val repaired = spark.read.parquet(repairKeysDir.toString)
    incoming.join(broadcast(repaired), keyCols, "leftsemi").limit(1).count() > 0
  }

  private def failRepairConflict(batchId: Long): Nothing =
    throw new IllegalStateException(
      s"stream batch $batchId writes to repaired key(s): repair-band rows " +
        s"win the latest-wins tiebreak unconditionally, so these writes " +
        s"would be silently stale. Route the correction through repair() " +
        s"or construct the table with repairConflictPolicy=\"warn\".")

  private def warnRepairConflict(batchId: Long): Unit =
    org.slf4j.LoggerFactory.getLogger(classOf[ClipTable]).warn(
      s"stream batch $batchId touches repaired key(s) at $root — its rows " +
        s"for those keys are superseded by the repair band (stale reads)")

  /** Highest batch id this table has committed (repairs included); -1 for
    * an empty table. Commit markers are the source of truth — every merge
    * writes one. */
  def maxCommittedBatchId(): Long = {
    val ids = listDir(commitsDir).flatMap { p =>
      val n = p.getFileName.toString
      if (n.startsWith("batch-")) scala.util.Try(n.drop(6).toLong).toOption
      else None
    }
    if (ids.isEmpty) -1L else ids.max
  }

  /** Operational BACKFILL/REPAIR: merge `recomputed` — the batch twin's
    * output for a damaged or late-corrected range — over the table. The
    * repair takes a batch id in a band above every possible stream epoch
    * (`RepairBand`), so its rows supersede everything the live stream has
    * written for the same keys, and its delta directory can never collide
    * with (or be overwritten by) a replayed stream micro-batch.
    *
    * CONTRACT (ENFORCED — see the repair-key tracking section): repair
    * only key ranges the stream can no longer emit (behind its watermark —
    * exactly the ranges that need out-of-band correction). A live-stream
    * write to a repaired key would lose the latest-wins tiebreak to the
    * repair band, so every repair records its key set and later
    * stream-band merges touching those keys fail loudly (or warn, per
    * `repairConflictPolicy`) instead of going silently stale. Repairs are
    * idempotent (re-running one is a latest-wins fixed point — and
    * completes the key record if a crash interrupted it) and stack (each
    * takes the next id in the band, so a newer repair supersedes an older
    * one). Returns the repair's batch id. */
  def repair(recomputed: DataFrame): Long = synchronized {
    val id = math.max(ClipTable.RepairBand, maxCommittedBatchId() + 1)
    merge(recomputed, id)
    // key record AFTER the merge commits: a crash between the two leaves
    // rows unrecorded, fixed by re-running the (idempotent) repair
    recomputed.select(keyCols.map(c => col(c)): _*).distinct()
      .write.mode(SaveMode.Append).parquet(repairKeysDir.toString)
    id
  }

  // ---------------------------------------------------------- compaction
  //
  // VERSIONED bases + grace-period GC (the Iceberg snapshot-expiry
  // analog). compact() publishes the folded table as a NEW directory
  // `compacted-v<N>` with one atomic rename — no live file or directory
  // is ever renamed or deleted at publish time — and only SCHEDULES the
  // superseded sources (previous base + folded deltas) for deletion.
  // Physical deletion happens `gcGraceMs` later, so a reader that
  // resolved file paths just before the compaction can still execute its
  // plan (Spark reads lazily; deleting resolved files under it was a
  // FileNotFoundException race). Overlap during the window is harmless:
  // the MOR reader is latest-batch-wins idempotent, so base-vs-delta
  // copies of a batch dedupe to identical rows. `gcGraceMs` must exceed
  // the longest expected reader latency; 0 = delete eagerly
  // (single-threaded tests / benchmarks).

  private def baseVersions: Seq[(Int, Path)] =
    listDir(Paths.get(root)).flatMap { p =>
      val n = p.getFileName.toString
      if (n.startsWith("compacted-v") && n.length > 11 &&
          n.drop(11).forall(_.isDigit) &&
          listDir(p).exists(_.toString.endsWith(".parquet")))
        Some(n.drop(11).toInt -> p)
      else None
    }.sortBy(_._1)

  private def latestBase: Option[Path] = baseVersions.lastOption.map(_._2)

  private def deltaBatchDirs: Seq[Path] =
    listDir(Paths.get(root, "delta"))
      .filter(d => d.getFileName.toString.startsWith("batch=") && nonEmptyDir(d))

  // GC ledger: one marker file per superseded directory (filename =
  // base64url of the root-relative path, content = the FENCE EPOCH the
  // schedule was stamped with — see the epoch-fence comment below; a
  // just-created marker briefly holds "PENDING" until its epoch is
  // claimed, and a scheduler crash in that window is healed by the next
  // sweep).
  private def gcDir: Path = Paths.get(root, "_gc")
  private def relOf(p: Path): String =
    Paths.get(root).toAbsolutePath.normalize
      .relativize(p.toAbsolutePath.normalize).toString
  private def gcKey(rel: String): String =
    java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(
      rel.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  private def gcRelOfKey(name: String): Option[String] =
    scala.util.Try(new String(java.util.Base64.getUrlDecoder.decode(name),
      java.nio.charset.StandardCharsets.UTF_8)).toOption

  /** Every scheduled root-relative path, PENDING markers included — the
    * read()/compact() exclusion set. A marker excludes its directory the
    * moment the FILE exists, before any epoch is assigned: the fence
    * argument below needs "marker visible => later listings never resolve
    * the directory". */
  private def gcScheduledRels: Set[String] =
    listDir(gcDir).flatMap(f => gcRelOfKey(f.getFileName.toString)).toSet

  /** Ledger entries: (rel, path, fence epoch — None while PENDING, marker
    * storage mtime). Only finalized entries are sweep-eligible. */
  private def gcEntries: Seq[(String, Path, Option[Long], Long)] =
    listDir(gcDir).flatMap { f =>
      gcRelOfKey(f.getFileName.toString).flatMap { rel =>
        scala.util.Try {
          val epoch = Files.readString(f).trim.toLongOption
          (rel, Paths.get(root).resolve(rel), epoch,
            Files.getLastModifiedTime(f).toMillis)
        }.toOption
      }
    }

  // ---------------------------------------------------- GC epoch fence
  //
  // "Did this reader resolve its file list before that GC schedule?" used
  // to be decided by comparing System.currentTimeMillis() stamps written
  // by DIFFERENT processes — fine on one host, silently wrong under
  // cross-host clock skew (a reader whose clock runs ahead of the
  // compactor's looks like it acquired after the schedule, loses the
  // fence, and can have resolved files deleted under it). The order is
  // now LOGICAL: a fence epoch counter advanced by atomic-exclusive file
  // creation (`_epoch/e<N>` — Files.createFile fails if the name exists,
  // so two processes can never both claim epoch N). Leases and schedule
  // markers are stamped with claimed epochs, and the sweep's blocking
  // rule is pure integer order: a live lease with epoch <= a marker's
  // epoch blocks that marker. No clock anywhere in the ordering.
  //
  // Why the rule is sound (two-phase schedule): gcScheduleAll creates
  // every marker FILE (content PENDING) before claiming the schedule's
  // epoch S. Take any leased reader. If its listing happened after the
  // marker existed, read() excluded the directory — the reader never
  // resolved it and needs no protection. If its listing happened before,
  // then its lease epoch E (claimed before the listing) was claimed
  // before S, so E < S and the sweep blocks. There is no interleaving in
  // which a reader resolves the directory yet holds E > S.
  //
  // Wall time survives ONLY inside age computations (grace window,
  // crashed-lease expiry) and there it is ONE clock — the storage
  // system's: file mtimes compared against the mtime of a probe file the
  // sweep just wrote. Two readings of the same clock, never two clocks.
  private def epochDir: Path = Paths.get(root, "_epoch")
  private def currentEpoch: Long =
    listDir(epochDir).flatMap { f =>
      val n = f.getFileName.toString
      if (n.startsWith("e")) n.drop(1).toLongOption else None
    }.foldLeft(0L)(math.max)

  /** Claim the next fence epoch (atomic across processes). Stale counter
    * files below the claim are pruned best-effort — only the max matters,
    * and the claimed file itself is never pruned by its claimant. */
  private def advanceEpoch(): Long = {
    Files.createDirectories(epochDir)
    var claimed = -1L
    while (claimed < 0) {
      val next = currentEpoch + 1
      try { Files.createFile(epochDir.resolve(s"e$next")); claimed = next }
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
    }
    listDir(epochDir).foreach { f =>
      f.getFileName.toString.drop(1).toLongOption
        .filter(_ < claimed).foreach(_ => Files.deleteIfExists(f))
    }
    claimed
  }

  /** Schedule directories for deletion under ONE fence epoch — two-phase
    * (all marker files first, then one epoch claim, then finalize) per
    * the soundness argument above. Already-scheduled paths are skipped;
    * PENDING leftovers from a crashed scheduler are finalized by the
    * next sweep. */
  private def gcScheduleAll(paths: Seq[Path]): Unit = {
    Files.createDirectories(gcDir)
    val fresh = paths.map(p => gcDir.resolve(gcKey(relOf(p))))
      .filterNot(Files.exists(_))
    if (fresh.isEmpty) return
    fresh.foreach(f => Files.writeString(f, "PENDING"))
    val epoch = advanceEpoch()
    fresh.foreach(f => Files.writeString(f, epoch.toString))
  }

  /** The storage clock: mtime of a probe file written now. Grace and
    * lease-expiry ages are differences between readings of THIS clock. */
  private def storageNow(): Long = {
    Files.createDirectories(gcDir)
    val probe = gcDir.resolve(".clock") // '.' is not base64url: never a ledger entry
    Files.writeString(probe, "")
    Files.getLastModifiedTime(probe).toMillis
  }

  // ------------------------------------------------------- reader leases
  //
  // The grace window alone is TIME-based: a reader slower than gcGraceMs
  // could still lose resolved files. Leases make GC deterministic for
  // arbitrarily slow readers: `readLeased()` claims a fence epoch and
  // registers a lease file BEFORE resolving the file list, and the sweep
  // refuses to delete a superseded directory while any lease with epoch
  // <= the directory's schedule epoch is held. Leases claimed after the
  // schedule never block it — read() excludes GC-scheduled dirs, so those
  // readers never resolved it. A crashed reader's lease expires once its
  // file's storage age exceeds `leaseTimeoutMs` (falling back to
  // time-based semantics) so a dead process cannot block GC forever.
  private def leasesDir: Path = Paths.get(root, "_leases")

  /** Handle for a leased read — `release()` when the consuming action is
    * done (idempotent). Works cross-process: the lease is a file. */
  final class ReadLease private[ClipTable] (private[ClipTable] val file: Path) {
    def release(): Unit = Files.deleteIfExists(file)
  }

  /** Claim a fence epoch and register it as a lease; subsequent GC
    * schedules will not physically delete directories this reader may
    * have resolved until release() or lease expiry. */
  def acquireLease(): ReadLease = synchronized {
    Files.createDirectories(leasesDir)
    val f = leasesDir.resolve(s"lease-${java.util.UUID.randomUUID()}")
    Files.writeString(f, advanceEpoch().toString)
    new ReadLease(f)
  }

  /** read() under a lease: the returned DataFrame's resolved files are
    * protected from compaction GC until the lease is released (or times
    * out). The caller must release() after its terminal action. */
  def readLeased(spark: SparkSession): (DataFrame, ReadLease) = {
    val lease = acquireLease()
    (read(spark), lease)
  }

  /** Fence epochs of live leases. Expiry is on the storage clock (lease
    * file mtime vs the sweep's probe mtime); expired files are dropped
    * (best-effort) so a crashed reader can't pin GC. */
  private def activeLeaseEpochs(storageNowMs: Long): Seq[Long] =
    listDir(leasesDir).flatMap { f =>
      val live = scala.util.Try(
        storageNowMs - Files.getLastModifiedTime(f).toMillis <= leaseTimeoutMs
      ).getOrElse(false)
      scala.util.Try(Files.readString(f).trim.toLong).toOption match {
        case Some(e) if live => Some(e)
        case Some(_) => Files.deleteIfExists(f); None
        case None => None // unreadable/foreign file: ignore, never blocks
      }
    }

  private def gcSweep(): Unit = {
    // Heal PENDING markers left by a scheduler crash between the two
    // phases: claim one epoch for all of them. Extant leases were claimed
    // earlier, so they carry smaller epochs and still block — exactly the
    // conservative direction. Healing precedes the probe so the healed
    // markers' mtimes are at-or-before `now` (age >= 0: with grace 0 the
    // same sweep can collect them).
    val pending = gcEntries.collect { case (rel, _, None, _) => rel }
    if (pending.nonEmpty) {
      val epoch = advanceEpoch()
      pending.foreach(rel =>
        Files.writeString(gcDir.resolve(gcKey(rel)), epoch.toString))
    }
    val now = storageNow()
    val leases = activeLeaseEpochs(now)
    gcEntries.foreach { case (rel, p, epochOpt, mtime) =>
      epochOpt.foreach { e =>
        val leased = leases.exists(_ <= e)
        if (now - mtime >= gcGraceMs && !leased) {
          deleteRecursively(p)
          Files.deleteIfExists(gcDir.resolve(gcKey(rel)))
        }
      }
    }
    val dp = Paths.get(root, "delta")
    if (Files.exists(dp) && listDir(dp).isEmpty) Files.delete(dp)
  }

  /** Run a GC sweep now (maintenance hook / deterministic tests). */
  def gcNow(): Unit = synchronized { gcSweep() }

  /** Fold the current table (latest base + unfolded deltas) into a new
    * base version — the maintenance operation an Iceberg
    * `rewrite_data_files` would run (lineage columns kept as data
    * columns). Crash-safe by construction: the only mutation of live
    * state is one atomic rename of the complete staging dir to
    * `compacted-v<N>`; a crash before it leaves an orphan staging dir
    * (discarded here on the next run), a crash after it leaves the
    * superseded sources unscheduled — read() then sees base+delta
    * overlap, which latest-batch-wins resolves identically. */
  def compact(spark: SparkSession): Unit = synchronized {
    val gcSet = gcScheduledRels
    val base = latestBase.filterNot(p => gcSet.contains(relOf(p)))
    val deltas = deltaBatchDirs.filterNot(p => gcSet.contains(relOf(p)))
    if (base.isEmpty && deltas.isEmpty) { gcSweep(); return }
    val current = morDedup( // mergeSchema: deltas may have evolved columns
      spark.read.option("mergeSchema", "true")
        .parquet((base.toSeq ++ deltas).map(_.toString): _*))
    val staging = Paths.get(root, "_compact-staging")
    deleteRecursively(staging)
    current.repartition(numBuckets, col("_bucket"))
      .write.mode(SaveMode.Overwrite).parquet(staging.toString)
    val next = baseVersions.lastOption.map(_._1 + 1).getOrElse(0)
    Files.move(staging, Paths.get(root, s"compacted-v$next"),
      StandardCopyOption.ATOMIC_MOVE)
    gcScheduleAll(base.toSeq ++ deltas)
    gcSweep()
  }

  /** Incremental maintenance policy: fold deltas into the compacted base
    * once more than `maxDeltas` accumulate. Bounds the MOR reader's
    * latest-wins window to O(base + maxDeltas·batch) without requiring
    * callers to remember `compact()` — the Iceberg analog is a
    * `rewrite_data_files` maintenance trigger. Returns true if a
    * compaction ran. Call from a maintenance hook or between batches (it
    * is synchronized with merge/read on this instance). */
  def compactIfNeeded(spark: SparkSession, maxDeltas: Int = 16): Boolean = synchronized {
    // only UNFOLDED deltas count toward the threshold — GC-scheduled ones
    // are already in the latest base and merely await their grace window
    val gcSet = gcScheduledRels
    val n = deltaBatchDirs.count(d => !gcSet.contains(relOf(d)))
    if (n > maxDeltas) { compact(spark); true }
    else { gcSweep(); false }
  }

  private def commit(batchId: Long): Unit =
    Files.writeString(commitsDir.resolve(s"batch-$batchId"),
      java.time.Instant.now().toString)

  /** POINT lookup — the primary-key GET a serving layer runs against the
    * sink: [[read]] restricted to one key tuple. The key predicate is on
    * the latest-wins window's partition columns, so filtering the row
    * versions before resolution gives the same rows; it reaches the
    * parquet scan and can skip row groups by min/max stats, but it prunes
    * no files: the scan still lists and opens every live base and delta
    * file. An empty table returns the schema-less frame, as [[read]]
    * does. */
  def lookup(spark: SparkSession, keyValues: Seq[String]): DataFrame = {
    require(keyValues.length == keyCols.length,
      s"expected ${keyCols.length} key values (${keyCols.mkString(",")}), " +
        s"got ${keyValues.length}")
    readRawOpt(spark).fold(spark.emptyDataFrame) { raw =>
      morDedup(raw.filter(keyCols.zip(keyValues)
        .map { case (c, v) => col(c) === v }.reduce(_ && _)))
    }
  }

  /** Current table contents (lineage columns included): the latest
    * compacted base merged with all unfolded deltas, latest-batch-wins per
    * key. */
  def read(spark: SparkSession): DataFrame =
    readRawOpt(spark).fold(spark.emptyDataFrame)(morDedup)

  /** TIME-TRAVEL read (the Iceberg snapshot-read analog): the table as of
    * batch `maxBatchId` — row versions written by batches <= the cut,
    * resolved latest-wins among them. `_batch_id` rides every row as a
    * data column through merges AND compaction folds, so the cut is a
    * plain min/max-prunable predicate on the scan (per-batch delta dirs
    * skip entirely).
    *
    * Exactness contract: on an uncompacted table the snapshot is exact
    * for ANY cut (all row versions still exist). Compaction — like
    * Iceberg snapshot expiry — collapses superseded versions; after it,
    * an as-of read returns each key's newest SURVIVING version
    * at-or-below the cut and drops keys whose surviving versions are all
    * newer. Repair-band batches (ClipTable.RepairBand+) sit above every
    * stream epoch, so a stream-time cut naturally reads the pre-repair
    * state. */
  def readAsOf(spark: SparkSession, maxBatchId: Long): DataFrame =
    readRawOpt(spark).fold(spark.emptyDataFrame)(raw =>
      morDedup(raw.filter(col("_batch_id") <= maxBatchId)))

  /** Live files as one un-resolved DataFrame (all surviving row
    * versions), or None for an empty table — shared by [[read]] (resolve
    * to latest), [[lookup]] and [[readAsOf]] (cut first, then resolve). */
  private def readRawOpt(spark: SparkSession): Option[DataFrame] = {
    checkFormat()
    // latest base + unfolded deltas; GC-scheduled dirs are excluded
    // (their content is in the latest base) but stay on disk through
    // the grace window for readers that already resolved their files
    val gcSet = gcScheduledRels
    val live = (latestBase.toSeq ++ deltaBatchDirs)
      .filterNot(p => gcSet.contains(relOf(p))).map(_.toString)
    if (live.isEmpty) return None
    // mergeSchema: batches may evolve the schema (add columns) — without
    // it the parquet reader takes ONE file's schema and silently drops
    // the others' new columns (the heterogeneous base+delta set is read
    // directly, so the union by name happens here).
    // Cost note: schema merging reads every file footer at plan time; the
    // file count is bounded by compaction (base + <= maxDeltas deltas) so
    // this stays O(buckets + deltas), not O(history). A real Iceberg
    // catalog tracks the schema in table metadata and skips this walk.
    Some(spark.read.option("mergeSchema", "true").parquet(live: _*))
  }

  /** Latest-batch-wins dedupe per key (ties within a batch keep one row)
    * — the resolution shared by read(), readAsOf(), lookup() and
    * compact(). */
  private def morDedup(raw: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col("_batch_id").desc, col("_part_id").desc)
    raw.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
}

object ClipTable {
  /** Batch-id band for out-of-band repairs (see [[ClipTable.repair]]):
    * far above any realistic stream epoch count (2^40 micro-batches at
    * one per second is ~35,000 years), so repair rows win latest-wins
    * against every stream write and repair delta dirs never collide with
    * stream delta dirs. */
  val RepairBand: Long = 1L << 40
}
