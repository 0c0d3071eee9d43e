package graft.streaming

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths, StandardCopyOption}
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

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
  * Layout under `<root>`:
  *   - `_format`: the table-format id; a root without it, or with another
  *     id, is refused.
  *   - `delta/batch=<batchId>/`: one per merge.
  *   - `compacted-v<N>/`: one per compaction, files clustered by the
  *     `_bucket` hash column.
  *   - `_snapshots/v<N>`: the snapshot log, the only record of the table's
  *     state. The newest snapshot IS the table: its first line is the
  *     table schema (Spark JSON), each further line one live directory
  *     relative to the root — at most one `compacted-v<K>` and the
  *     unfolded `delta/batch=<id>` dirs. A directory no snapshot names is
  *     invisible. Every read the table makes of itself is
  *     `spark.read.schema(s).parquet(dirs)`: no directory walk and no
  *     footer-merge job.
  *   - `_commits/batch-<id>`: per-batch commit instants; `_leases/` and
  *     `_repairs/` (see below).
  *
  * Merge-on-read is the only layout: `mergeOnRead` accepts just `true`
  * and stays so callers that name it keep compiling.
  */
final case class ClipTable(root: String, keyCols: Seq[String], numBuckets: Int = 16,
    mergeOnRead: Boolean = true, gcGraceMs: Long = 300000L,
    leaseTimeoutMs: Long = 600000L, repairConflictPolicy: String = "fail") {
  import ClipTable.Snapshot
  require(mergeOnRead,
    "the copy-on-write layout (mergeOnRead = false) was removed; merge-on-read is the only layout")
  require(Seq("fail", "warn").contains(repairConflictPolicy),
    s"repairConflictPolicy must be 'fail' or 'warn', got '$repairConflictPolicy'")

  private def commitsDir: Path = Paths.get(root, "_commits")

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

  /** Table-format fingerprint. v3 = the snapshot log; v2 roots (versioned
    * bases tracked by a GC ledger) and older carry no snapshots, so this
    * reader would see them as empty. v2 also fixed the bucket hash to
    * NUL-joined key columns (v1, round 1, used a space). Refusing a
    * mismatched table turns silent row loss into a loud error; migrate by
    * reading the old table with its own build and re-merging into a fresh
    * root. */
  private def formatFile: Path = Paths.get(root, "_format")
  private val formatId = s"v3 snapshots keyDelim=nul buckets=$numBuckets keys=${keyCols.mkString(",")}"
  /** Refuses a table this build cannot read: a marker naming another
    * format, or a root that holds anything but leases and no marker (every
    * layout since round 1 stamps one before its first write). True when
    * the marker exists. */
  private def checkFormat(): Boolean =
    if (Files.exists(formatFile)) {
      val have = Files.readString(formatFile).trim
      require(have == formatId,
        s"table at $root was written with incompatible format '$have' (this build: '$formatId')")
      true
    } else {
      require(listDir(Paths.get(root)).forall(_.getFileName.toString == "_leases"),
        s"table at $root holds files but no _format marker (round-1 layout); re-merge into a fresh root")
      false
    }
  private def checkOrStampFormat(): Unit =
    if (!checkFormat()) {
      Files.createDirectories(Paths.get(root))
      Files.writeString(formatFile, formatId)
    }

  def committed(batchId: Long): Boolean =
    Files.exists(commitsDir.resolve(s"batch-$batchId"))

  private def keyExpr = concat_ws("\u0000", keyCols.map(c => col(c).cast("string")): _*)
  private def bucketOf = pmod(crc32(keyExpr), lit(numBuckets)).cast("int")

  /** Exactly-once MERGE of `batch` into the table, keyed by `keyCols`,
    * latest `_batch_id` wins: one delta write per batch (a single job, no
    * existing-data read), then a snapshot naming it; readers dedupe
    * latest-batch-wins.
    *
    * Replay-safe WITHOUT a skip guard: the per-batch delta dir is
    * OVERWRITTEN on replay, so re-merging the same batch is a fixed point
    * (same dir, same keys, same `_batch_id`). That is exactly the
    * reference's idempotency mechanism — deterministic keys
    * + upsert (`/root/reference/scrape/scrape.go:604`,
    * `/root/reference/storage/mongo.go:48-77`). Skipping the work on
    * replay would also skip the stateful upstream of the foreachBatch
    * plan, which Spark's state-store commit tracking (rightly) rejects —
    * a replayed batch must re-commit its state versions.
    *
    * Order: delta write, repair-conflict check, snapshot publish, commit
    * marker. A crash before the publish leaves a delta no snapshot names:
    * invisible, and overwritten by the replay. */
  def merge(batch: DataFrame, batchId: Long): Unit = synchronized {
    val spark = batch.sparkSession
    checkOrStampFormat()
    Files.createDirectories(commitsDir)
    val delta = batch
      .withColumn("_batch_id", lit(batchId))
      .withColumn("_part_id", spark_partition_id()) // per-partition lineage
      .withColumn("_bucket", bucketOf)
    val rel = s"delta/batch=$batchId"
    val dir = Paths.get(root, rel).toString
    delta.write.mode(SaveMode.Overwrite).parquet(dir)
    // what the parquet reader infers for the written files
    val schema = ClipTable.nullable(delta.schema).asInstanceOf[StructType]
    // Repair-contract check AFTER the write, on a read-back of the
    // just-written delta: checking the batch plan directly would
    // execute the stateful upstream a second time (state stores would
    // re-commit within one batch). On conflict under 'fail' nothing is
    // published, so the delta stays invisible.
    if (conflictsWithRepairs(spark, spark.read.schema(schema).parquet(dir), batchId)) {
      if (repairConflictPolicy == "fail") failRepairConflict(batchId)
      warnRepairConflict(batchId)
    }
    publish(s => s.copy(schema = ClipTable.unionByName(s.schema, schema),
      dirs = if (s.dirs.contains(rel)) s.dirs else s.dirs :+ rel))
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

  /** `incoming` is by-name: merge passes a read-back of its delta, which
    * must not be built while `_repairs/` is empty. */
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

  // ------------------------------------------------------ snapshot log

  private def snapshotsDir: Path = Paths.get(root, "_snapshots")
  private def snapshotFile(id: Long): Path = snapshotsDir.resolve(s"v$id")
  private def snapshotIds: Seq[Long] =
    listDir(snapshotsDir).flatMap { p =>
      val n = p.getFileName.toString
      if (n.startsWith("v")) n.drop(1).toLongOption else None
    }.sorted
  private def loadSnapshot(id: Long): Snapshot = {
    val lines = Files.readString(snapshotFile(id)).linesIterator.filter(_.nonEmpty).toSeq
    Snapshot(id, DataType.fromJson(lines.head).asInstanceOf[StructType], lines.tail)
  }
  private def latest: Option[Snapshot] = snapshotIds.lastOption.map(loadSnapshot)

  /** Publish `change` of the newest snapshot as the next one (a no-op
    * change publishes nothing). The snapshot is written to a temp file and
    * claimed as `v<N>` with `createLink`, an exclusive atomic create — not
    * a rename, which silently replaces an existing target. A writer that
    * loses `v<N>` re-reads the newest snapshot, rebases its change and
    * retries. */
  @annotation.tailrec
  private def publish(change: Snapshot => Snapshot): Unit = {
    val cur = latest.getOrElse(Snapshot(-1L, new StructType(), Nil))
    val next = change(cur).copy(id = cur.id + 1)
    if (next.copy(id = cur.id) != cur) {
      Files.createDirectories(snapshotsDir)
      val tmp = snapshotsDir.resolve(s".tmp-${java.util.UUID.randomUUID()}")
      Files.writeString(tmp, next.render)
      val won = try { Files.createLink(snapshotFile(next.id), tmp); true }
        catch { case _: FileAlreadyExistsException => false }
        finally Files.delete(tmp)
      if (!won) publish(change)
    }
  }

  /** The snapshot's live dirs as one un-resolved DataFrame. Named dirs
    * that no longer exist are skipped (physical loss reads as missing
    * rows, which `repair` restores). Directories, not files, are passed:
    * 16 base files plus the deltas would cross Spark's 32-path threshold
    * for a parallel listing job. */
  private def scan(spark: SparkSession, s: Snapshot): DataFrame = {
    val dirs = s.dirs.map(Paths.get(root, _)).filter(Files.isDirectory(_)).map(_.toString)
    if (dirs.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s.schema)
    else spark.read.schema(s.schema).parquet(dirs: _*)
  }

  // ------------------------------------------------- snapshot expiry
  //
  // The Iceberg `expire_snapshots` analog, and the only deletion path.
  // A superseded base or folded delta stays on disk while any retained
  // snapshot names it, so a reader that resolved its files from an older
  // snapshot can still execute its plan (Spark reads lazily). The sweep
  // retains:
  //   (a) the newest snapshot;
  //   (b) every snapshot with id >= the smallest live lease;
  //   (c) every snapshot superseded less than `gcGraceMs` ago.
  // It deletes the dirs named only by the other snapshots, then those
  // snapshot files, and runs only when a superseded snapshot exists.
  //
  // Why leases are sound: a lease records the newest snapshot id L
  // BEFORE its reader resolves the newest snapshot R, so L <= R. The
  // sweep reads the newest snapshot M BEFORE it lists leases, and only
  // snapshots below M are candidates. If the listing saw the lease, every
  // snapshot >= L is retained, R among them. If it did not, the lease was
  // written after the listing, so R was resolved after M existed: R >= M,
  // and M is retained (a) while anything newer is not a candidate. Either
  // way R's dirs survive. No clock enters the lease order — ids only.
  //
  // Ages — the grace window (c) and crashed-lease expiry — are measured
  // on ONE clock, the storage system's: a snapshot is superseded at the
  // mtime of the next snapshot, and a lease is as old as its file's
  // mtime, both against the mtime of a probe file the sweep writes. Two
  // readings of the same clock, never two hosts' clocks. An unleased
  // reader resolved its snapshot before the next one was published, so
  // its files live at least `gcGraceMs` past its resolution; 0 = expire
  // eagerly (single-threaded tests / benchmarks).
  //
  // Writers and the sweep of one table run serialized (every mutating
  // method is synchronized on the instance).

  private def leasesDir: Path = Paths.get(root, "_leases")

  /** Handle for a leased read — `release()` when the consuming action is
    * done (idempotent). Works cross-process: the lease is a file. */
  final class ReadLease private[ClipTable] (private[ClipTable] val file: Path) {
    def release(): Unit = Files.deleteIfExists(file)
  }

  /** Register a lease on the newest snapshot id: no snapshot from it on
    * expires until release() or lease expiry (`leaseTimeoutMs` on the
    * storage clock, so a dead process cannot block expiry forever). */
  def acquireLease(): ReadLease = synchronized {
    Files.createDirectories(leasesDir)
    val f = leasesDir.resolve(s"lease-${java.util.UUID.randomUUID()}")
    Files.writeString(f, snapshotIds.lastOption.getOrElse(-1L).toString)
    new ReadLease(f)
  }

  /** read() under a lease: the returned DataFrame's resolved files are
    * protected from expiry until the lease is released (or times out).
    * The caller must release() after its terminal action. */
  def readLeased(spark: SparkSession): (DataFrame, ReadLease) = {
    val lease = acquireLease()
    (read(spark), lease)
  }

  /** Snapshot ids of live leases; expired lease files are dropped
    * (best-effort) so a crashed reader can't pin expiry. */
  private def liveLeases(now: Long): Seq[Long] =
    listDir(leasesDir).flatMap { f =>
      val live = scala.util.Try(
        now - Files.getLastModifiedTime(f).toMillis <= leaseTimeoutMs).getOrElse(false)
      scala.util.Try(Files.readString(f).trim.toLong).toOption match {
        case Some(id) if live => Some(id)
        case Some(_) => Files.deleteIfExists(f); None
        case None => None // unreadable/foreign file: ignore, never blocks
      }
    }

  private def sweep(): Unit = {
    val ids = snapshotIds // the newest snapshot, read before the leases
    if (ids.size < 2) return
    val probe = Files.createTempFile(snapshotsDir, ".clock-", "")
    val now = try Files.getLastModifiedTime(probe).toMillis finally Files.delete(probe)
    val minLease = liveLeases(now).foldLeft(ids.last)(math.min)
    val expired = ids.zip(ids.tail).takeWhile { case (id, next) =>
      id < minLease && now - Files.getLastModifiedTime(snapshotFile(next)).toMillis >= gcGraceMs
    }.map(_._1)
    if (expired.isEmpty) return
    val kept = ids.drop(expired.size).flatMap(loadSnapshot(_).dirs).toSet
    expired.flatMap(loadSnapshot(_).dirs).distinct.filterNot(kept)
      .foreach(d => deleteRecursively(Paths.get(root, d)))
    expired.foreach(id => Files.delete(snapshotFile(id)))
    val dp = Paths.get(root, "delta")
    if (Files.exists(dp) && listDir(dp).isEmpty) Files.delete(dp)
  }

  /** Run a snapshot-expiry sweep now (maintenance hook / deterministic
    * tests). */
  def gcNow(): Unit = synchronized { sweep() }

  // ---------------------------------------------------------- compaction

  /** Fold the current table (latest base + unfolded deltas) into a new
    * base version — the maintenance operation an Iceberg
    * `rewrite_data_files` would run (lineage columns kept as data
    * columns). The fold is staged, moved to `compacted-v<N>` with one
    * atomic rename, then published as a snapshot naming the new base plus
    * any deltas merged since the fold read its snapshot. A crash before
    * the move leaves a staging dir, one between the move and the publish
    * an unpublished `compacted-v<N>`; the next compaction discards both.
    * The superseded sources go with snapshot expiry. */
  def compact(spark: SparkSession): Unit = synchronized {
    latest.foreach { s =>
      val published = s.base.fold(-1)(_.drop(11).toInt)
      listDir(Paths.get(root)).filter { p =>
        val n = p.getFileName.toString
        n.startsWith("compacted-v") && n.drop(11).toIntOption.exists(_ > published)
      }.foreach(deleteRecursively)
      val staging = Paths.get(root, "_compact-staging")
      deleteRecursively(staging)
      morDedup(scan(spark, s)).repartition(numBuckets, col("_bucket"))
        .write.mode(SaveMode.Overwrite).parquet(staging.toString)
      val base = s"compacted-v${published + 1}"
      Files.move(staging, Paths.get(root, base), StandardCopyOption.ATOMIC_MOVE)
      publish(cur => cur.copy(dirs = base +: cur.deltas.filterNot(s.dirs.contains)))
    }
    sweep()
  }

  /** Incremental maintenance policy: fold deltas into the compacted base
    * once more than `maxDeltas` accumulate. Bounds the MOR reader's
    * latest-wins window to O(base + maxDeltas·batch) without requiring
    * callers to remember `compact()` — the Iceberg analog is a
    * `rewrite_data_files` maintenance trigger. Returns true if a
    * compaction ran. Call from a maintenance hook or between batches (it
    * is synchronized with merge/read on this instance). */
  def compactIfNeeded(spark: SparkSession, maxDeltas: Int = 16): Boolean = synchronized {
    if (latest.exists(_.deltas.size > maxDeltas)) { compact(spark); true }
    else { sweep(); false }
  }

  private def commit(batchId: Long): Unit =
    Files.writeString(commitsDir.resolve(s"batch-$batchId"),
      java.time.Instant.now().toString)

  /** POINT lookup — the primary-key GET a serving layer runs against the
    * sink: [[read]] restricted to one key tuple. The key predicate is on
    * the latest-wins window's partition columns, so filtering the row
    * versions before resolution gives the same rows; it reaches the
    * parquet scan and can skip row groups by min/max stats, but it prunes
    * no files: the scan still opens every live base and delta file. An
    * empty table returns the schema-less frame, as [[read]] does. */
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
    readRawOpt(spark).fold(spark.emptyDataFrame)(morDedup(_))

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

  /** The newest snapshot as one un-resolved DataFrame (all surviving row
    * versions), or None for an empty table — shared by [[read]] (resolve
    * to latest), [[lookup]] and [[readAsOf]] (cut first, then resolve), and
    * by the dedup stage of [[ClipStreamJob.runDedupedToTable]]. */
  private[graft] def readRawOpt(spark: SparkSession): Option[DataFrame] = {
    checkFormat()
    latest.map(scan(spark, _))
  }

  /** Latest-batch-wins dedupe per key (ties within a batch keep one row)
    * — the resolution shared by read(), readAsOf(), lookup() and
    * compact(). Columns `within` lead the partition key, so rows that
    * differ in them resolve apart: a caller whose rows are already
    * partitioned by `within` resolves them without another shuffle. */
  private[graft] def morDedup(raw: DataFrame, within: Seq[String] = Nil): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy((within ++ keyCols).map(col): _*)
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

  /** One entry of the snapshot log: the table schema and its live dirs,
    * relative to the root (at most one `compacted-v<K>`, then deltas). */
  private final case class Snapshot(id: Long, schema: StructType, dirs: Seq[String]) {
    def base: Option[String] = dirs.find(_.startsWith("compacted-v"))
    def deltas: Seq[String] = dirs.filterNot(base.contains)
    def render: String = (schema.json +: dirs).mkString("", "\n", "\n")
  }

  /** `have` plus the columns of `add` it lacks, appended by name — the
    * union the parquet reader's `mergeSchema` takes over file footers. A
    * column whose type changes is refused. */
  private def unionByName(have: StructType, add: StructType): StructType = {
    add.fields.foreach(f => have.find(_.name == f.name).foreach(g =>
      require(g.dataType == f.dataType, s"column ${f.name} changes type from " +
        s"${g.dataType.simpleString} to ${f.dataType.simpleString}")))
    StructType(have.fields ++ add.fields.filterNot(f => have.fieldNames.contains(f.name)))
  }

  /** `t` with every field, element and value nullable: the schema the
    * parquet reader reports for files written with schema `t`. */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }
}
