package graft.streaming

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.fixtures.ClipGen
import graft.operators.Windows

/** Exactly-once + resume: kill the query mid-stream (after a merge has
  * committed but before the checkpoint offset commit), restart from the
  * same checkpoint, and require identical sink contents to an uninterrupted
  * batch run — the reference's idempotent-upsert guarantee
  * (`/root/reference/storage/mongo.go:48-77`) under Spark's replay. */
class ExactlyOnceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("merge is idempotent per batchId and latest-batch-wins per key") {
    val dir = Files.createTempDirectory("tbl").toString
    val t = ClipTable(dir, Seq("k"), numBuckets = 2)
    val b0 = Seq(("a", 1), ("b", 2)).toDF("k", "v")
    t.merge(b0, 0)
    t.merge(b0, 0) // replay: no-op
    assert(t.read(spark).count() == 2)
    val b1 = Seq(("a", 10), ("c", 3)).toDF("k", "v")
    t.merge(b1, 1)
    val got = t.read(spark).select("k", "v").as[(String, Int)].collect().toMap
    assert(got == Map("a" -> 10, "b" -> 2, "c" -> 3))
    // lineage columns present
    assert(t.read(spark).columns.toSet.intersect(Set("_batch_id", "_part_id")).size == 2)
    // building the read plans starts no Spark job: the schema and the
    // live dirs come from the snapshot, not from a footer merge
    val (_, jobs) = TestSpark.jobsStartedBy {
      t.read(spark); t.lookup(spark, Seq("a")); t.readAsOf(spark, 0L)
    }
    assert(jobs == 0, s"building read, lookup and readAsOf started $jobs Spark job(s)")
  }

  test("compaction is crash-safe and defers deletion through the GC grace window") {
    // compact() publishes `compacted-v<N>` with ONE atomic rename and only
    // SCHEDULES superseded sources for deletion (grace-period GC): every
    // crash point leaves either an orphan staging dir (discarded on the
    // next run) or an unscheduled overlap that latest-batch-wins resolves.
    // Readers that resolved files just before a compaction can still
    // execute — nothing they reference is deleted inside the grace window.
    val dir = Files.createTempDirectory("tbl-compact-crash").toString
    val deferred = ClipTable(dir, Seq("k"), numBuckets = 2, mergeOnRead = true,
      gcGraceMs = Long.MaxValue)
    (0 until 3).foreach(i =>
      deferred.merge(Seq((s"k$i", i), ("shared", i)).toDF("k", "v"), i))
    // a reader plan resolved BEFORE compaction…
    val preCompactRead = deferred.read(spark).select("k", "v")
    deferred.compact(spark)
    val truth = Map("k0" -> 0, "k1" -> 1, "k2" -> 2, "shared" -> 2)
    // …must still execute afterwards: its delta files are GC-scheduled,
    // not deleted (this exact sequence was a FileNotFoundException race
    // when compact() deleted the delta dirs eagerly)
    assert(preCompactRead.as[(String, Int)].collect().toMap == truth)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "delta")))
    assert(deferred.read(spark).select("k", "v")
      .as[(String, Int)].collect().toMap == truth)

    // crash before publish: an orphan (even corrupt) staging dir is
    // discarded by the next compact
    val staging = java.nio.file.Paths.get(dir, "_compact-staging")
    java.nio.file.Files.createDirectories(staging)
    java.nio.file.Files.writeString(staging.resolve("garbage"), "not parquet")
    deferred.merge(Seq(("k9", 9)).toDF("k", "v"), 3)
    deferred.compact(spark)
    assert(!java.nio.file.Files.exists(staging))
    assert(deferred.read(spark).select("k", "v")
      .as[(String, Int)].collect().toMap == truth + ("k9" -> 9))

    // an eager-GC handle on the SAME root sweeps everything superseded
    val eager = ClipTable(dir, Seq("k"), numBuckets = 2, mergeOnRead = true,
      gcGraceMs = 0L)
    eager.compact(spark)
    assert(eager.read(spark).select("k", "v")
      .as[(String, Int)].collect().toMap == truth + ("k9" -> 9))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "delta")))
    // exactly one live base version remains after the sweep
    val bases = java.nio.file.Files.list(java.nio.file.Paths.get(dir)).iterator()
    var nBases = 0
    while (bases.hasNext) {
      if (bases.next().getFileName.toString.startsWith("compacted-v")) nBases += 1
    }
    assert(nBases == 1, s"expected 1 base version, found $nBases")
  }

  test("reader leases deterministically block GC; expired leases do not") {
    // The grace window alone is TIME-based — a reader slower than
    // gcGraceMs could still lose resolved files. A lease must block the
    // sweep for as long as it is held (even with grace 0), and stop
    // blocking the moment it is released; a lease past leaseTimeoutMs
    // (crashed reader) must not block at all.
    val dir = Files.createTempDirectory("tbl-lease").toString
    val t = ClipTable(dir, Seq("k"), numBuckets = 2, mergeOnRead = true,
      gcGraceMs = 0L)
    (0 until 3).foreach(i =>
      t.merge(Seq((s"k$i", i), ("shared", i)).toDF("k", "v"), i))
    val (leasedDf, lease) = t.readLeased(spark)
    val plan = leasedDf.select("k", "v") // file list resolved pre-compaction
    t.compact(spark) // grace 0: would delete eagerly if not for the lease
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "delta")),
      "leased reader's resolved delta files were deleted")
    val truth = Map("k0" -> 0, "k1" -> 1, "k2" -> 2, "shared" -> 2)
    assert(plan.as[(String, Int)].collect().toMap == truth)
    lease.release()
    t.gcNow()
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "delta")),
      "released lease still blocks the sweep")

    // a crashed reader's expired lease must not pin GC forever
    val t0 = ClipTable(dir, Seq("k"), numBuckets = 2, mergeOnRead = true,
      gcGraceMs = 0L, leaseTimeoutMs = 0L)
    t0.merge(Seq(("k9", 9)).toDF("k", "v"), 3)
    val (_, staleLease) = t0.readLeased(spark) // expires immediately
    t0.compact(spark)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "delta")),
      "expired lease blocked the sweep")
    staleLease.release() // idempotent on the already-swept lease file
    assert(t0.read(spark).select("k", "v")
      .as[(String, Int)].collect().toMap == truth + ("k9" -> 9))
  }

  test("snapshot expiry: leases pin snapshot ids; an unpublished base is discarded") {
    // A lease records the newest snapshot id before its reader resolves
    // the table, and expiry keeps every snapshot from the smallest live
    // lease on. The order is snapshot ids, never a clock.
    val dir = Files.createTempDirectory("tbl-expiry").toString
    val t = ClipTable(dir, Seq("k"), numBuckets = 2, mergeOnRead = true,
      gcGraceMs = 0L)
    (0 until 3).foreach(i => t.merge(Seq((s"k$i", i)).toDF("k", "v"), i))

    // a lease taken BEFORE the compaction blocks the sweep...
    val (_, early) = t.readLeased(spark)
    t.compact(spark)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "delta")),
      "pre-compaction lease lost its snapshot")
    early.release()
    // ...but a lease taken AFTER it must NOT block the sweep even while
    // HELD: it pins the compacted snapshot, which names none of the
    // folded deltas.
    val (lateDf, late) = t.readLeased(spark)
    t.gcNow()
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "delta")),
      "post-compaction lease blocked a sweep it never had a claim on")
    assert(lateDf.select("k", "v").as[(String, Int)].collect().toMap ==
      Map("k0" -> 0, "k1" -> 1, "k2" -> 2))
    late.release()

    // Compaction crash between the atomic move and the snapshot publish:
    // a `compacted-v<N>` no snapshot names is invisible, and the next
    // compaction discards it before it writes its own base there.
    val dir2 = Files.createTempDirectory("tbl-unpublished").toString
    val t2 = ClipTable(dir2, Seq("k"), numBuckets = 2, mergeOnRead = true,
      gcGraceMs = 0L)
    t2.merge(Seq(("a", 1)).toDF("k", "v"), 0)
    t2.compact(spark) // publishes compacted-v0
    val orphan = java.nio.file.Paths.get(dir2, "compacted-v1")
    Seq(("a", 99, 5L, 0, 0)).toDF("k", "v", "_batch_id", "_part_id", "_bucket")
      .write.parquet(orphan.toString)
    def rows2 = t2.read(spark).select("k", "v").as[(String, Int)].collect().toMap
    assert(rows2 == Map("a" -> 1), "unpublished base is visible")
    t2.merge(Seq(("b", 2)).toDF("k", "v"), 1)
    t2.compact(spark)
    assert(rows2 == Map("a" -> 1, "b" -> 2))
    assert(spark.read.parquet(orphan.toString).select("k", "v").as[(String, Int)]
      .collect().toMap == Map("a" -> 1, "b" -> 2), "orphan base was not discarded")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir2, "compacted-v0")))
  }

  test("two writers on one root: a writer that loses a snapshot id rebases, no batch is lost") {
    // Each handle publishes `_snapshots/v<N>` with an exclusive create; the
    // loser of an id re-reads the newest snapshot and retries on top of it.
    val dir = Files.createTempDirectory("tbl-writers").toString
    val handles = Seq.fill(2)(ClipTable(dir, Seq("k"), numBuckets = 2))
    handles.head.merge(Seq(("seed", 0)).toDF("k", "v"), 1000L) // stamps _format
    val writers = handles.zipWithIndex.map { case (t, w) =>
      new Thread(() => (0 until 8).foreach(i =>
        t.merge(Seq((s"w$w-$i", i)).toDF("k", "v"), w * 100L + i)))
    }
    writers.foreach(_.start()); writers.foreach(_.join())
    val got = handles.head.read(spark).select("k").as[String].collect().toSet
    assert(got == (for (w <- 0 until 2; i <- 0 until 8) yield s"w$w-$i").toSet + "seed")
  }

  test("readAsOf: exact snapshots pre-compaction; surviving-version semantics after") {
    val dir = Files.createTempDirectory("tbl-asof").toString
    val t = ClipTable(dir, Seq("k"), numBuckets = 2, mergeOnRead = true,
      gcGraceMs = 0L)
    // batch 0: k0=0, s=0 | batch 1: k1=1, s=1 | batch 2: s=2, k2=2
    t.merge(Seq(("k0", 0), ("s", 0)).toDF("k", "v"), 0)
    t.merge(Seq(("k1", 1), ("s", 1)).toDF("k", "v"), 1)
    t.merge(Seq(("s", 2), ("k2", 2)).toDF("k", "v"), 2)
    def asOf(tt: ClipTable, b: Long) = tt.readAsOf(spark, b)
      .select("k", "v").as[(String, Int)].collect().toMap
    // uncompacted MOR: every historical snapshot is exact
    assert(asOf(t, 0L) == Map("k0" -> 0, "s" -> 0))
    assert(asOf(t, 1L) == Map("k0" -> 0, "k1" -> 1, "s" -> 1))
    assert(asOf(t, 2L) == Map("k0" -> 0, "k1" -> 1, "k2" -> 2, "s" -> 2))
    assert(asOf(t, 99L) == asOf(t, 2L)) // cut beyond head = current table
    // after compaction (snapshot expiry): superseded versions of 's' are
    // collapsed — the cut keeps each key's surviving version at-or-below
    // it, so 's' (surviving version from batch 2) drops out of asOf(1)
    t.compact(spark)
    assert(asOf(t, 2L) == Map("k0" -> 0, "k1" -> 1, "k2" -> 2, "s" -> 2))
    assert(asOf(t, 1L) == Map("k0" -> 0, "k1" -> 1))
    // repair-band batches sit above any stream cut: a stream-time as-of
    // still reads the pre-repair state
    t.repair(Seq(("s", 42)).toDF("k", "v"))
    assert(t.read(spark).select("k", "v").as[(String, Int)].collect().toMap
      .apply("s") == 42)
    assert(asOf(t, 2L)("s") == 2)
    assert(asOf(t, ClipTable.RepairBand + 99)("s") == 42)
  }

  test("lookup: point read touches one bucket, agrees with the full read") {
    val dir = Files.createTempDirectory("tbl-lookup").toString
    val t = ClipTable(dir, Seq("k"), numBuckets = 4, gcGraceMs = 0L)
    (0 until 3).foreach(b =>
      t.merge((0 until 40).map(i => (s"k$i", i + b * 100)).toDF("k", "v"), b))
    t.compact(spark) // bucket-clustered base files
    val full = t.read(spark).select("k", "v").as[(String, Int)]
      .collect().toMap
    for (k <- Seq("k0", "k17", "k39")) {
      val got = t.lookup(spark, Seq(k)).select("k", "v")
        .as[(String, Int)].collect()
      assert(got.toSeq == Seq((k, full(k))), s"key=$k")
    }
    assert(t.lookup(spark, Seq("missing")).isEmpty)
    intercept[IllegalArgumentException](t.lookup(spark, Seq("a", "b")))
  }

  test("lookup miss keeps the table schema even when the key's bucket is empty") {
    // ADVICE r5: the COW miss path returned spark.emptyDataFrame (zero
    // columns) when the bucket dir was empty — callers selecting columns
    // on a miss got AnalysisException. With 64 buckets and 4 keys, most
    // buckets are empty; every miss must still carry (k, v).
    val dir = Files.createTempDirectory("tbl-lookup-miss").toString
    val t = ClipTable(dir, Seq("k"), numBuckets = 64)
    t.merge((0 until 4).map(i => (s"k$i", i)).toDF("k", "v"), 0)
    val misses = (0 until 20).map(i => s"zz-miss-$i")
    // at least one of these lands in an unpopulated bucket dir
    misses.foreach { k =>
      val df = t.lookup(spark, Seq(k))
      assert(df.columns.toSet.intersect(Set("k", "v")) == Set("k", "v"), k)
      assert(df.select("k", "v").isEmpty, k)
    }
    // fully-empty table still degrades to the schema-less frame, like read()
    val empty = ClipTable(Files.createTempDirectory("tbl-empty").toString, Seq("k"))
    assert(empty.lookup(spark, Seq("x")).isEmpty)
  }

  test("a table from an incompatible format version is refused, not corrupted") {
    // v1 (round 1) bucketed on space-joined keys and has no _format marker;
    // merging into it with the v2 layout would silently lose re-bucketed
    // rows. Both a missing marker over existing data and a mismatched
    // marker must fail loudly.
    val dir = Files.createTempDirectory("tbl-legacy").toString
    val t = ClipTable(dir, Seq("k"), numBuckets = 2, mergeOnRead = true)
    t.merge(Seq(("a", 1)).toDF("k", "v"), 0)
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "_format"))
    intercept[IllegalArgumentException] { t.merge(Seq(("b", 2)).toDF("k", "v"), 1) }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "_format"), "v1 keyDelim=space")
    intercept[IllegalArgumentException] { t.merge(Seq(("b", 2)).toDF("k", "v"), 1) }
    intercept[IllegalArgumentException] { t.read(spark) }

    // Older builds' roots carry the v2 marker, which names no snapshot
    // log: a copy-on-write root (bucket files under data/) and a
    // pre-versioned merge-on-read root (its base in one `compacted/` dir).
    // This reader would see either as empty, so read and merge refuse
    // both through the marker.
    def stampV2(root: String): Unit = java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "_format"), "v2 keyDelim=nul buckets=2 keys=k")
    val cowDir = Files.createTempDirectory("tbl-cow").toString
    val cow = ClipTable(cowDir, Seq("k"), numBuckets = 2)
    Seq(("a", 1)).toDF("k", "v").write
      .parquet(java.nio.file.Paths.get(cowDir, "data", "bucket=0").toString)
    stampV2(cowDir)
    intercept[IllegalArgumentException] { cow.read(spark) }
    intercept[IllegalArgumentException] { cow.merge(Seq(("b", 2)).toDF("k", "v"), 1) }
    val legacyDir = Files.createTempDirectory("tbl-compacted").toString
    val legacy = ClipTable(legacyDir, Seq("k"), numBuckets = 2)
    Seq(("c", 3)).toDF("k", "v").write
      .parquet(java.nio.file.Paths.get(legacyDir, "compacted").toString)
    stampV2(legacyDir)
    intercept[IllegalArgumentException] { legacy.read(spark) }
    intercept[IllegalArgumentException] { legacy.merge(Seq(("b", 2)).toDF("k", "v"), 1) }
    // and no handle can ask for that layout any more
    intercept[IllegalArgumentException] { ClipTable(cowDir, Seq("k"), mergeOnRead = false) }
  }

  test("compactIfNeeded folds deltas once past the threshold, rows stable") {
    val dir = Files.createTempDirectory("tbl-autocompact").toString
    // eager GC so the folded deltas are physically gone below
    val t = ClipTable(dir, Seq("k"), numBuckets = 2, mergeOnRead = true,
      gcGraceMs = 0L)
    (0 until 5).foreach(i => t.merge(Seq((s"k$i", i), ("shared", i)).toDF("k", "v"), i))
    assert(!t.compactIfNeeded(spark, maxDeltas = 8)) // under threshold
    val before = t.read(spark).select("k", "v").as[(String, Int)].collect().toMap
    assert(t.compactIfNeeded(spark, maxDeltas = 3)) // 5 deltas > 3 -> fold
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "delta")))
    val after = t.read(spark).select("k", "v").as[(String, Int)].collect().toMap
    assert(after == before && after("shared") == 4) // latest-batch-wins kept
    // merges keep working after compaction
    t.merge(Seq(("shared", 99)).toDF("k", "v"), 5)
    assert(t.read(spark).select("k", "v").as[(String, Int)].collect()
      .toMap.apply("shared") == 99)
  }

  test("kill after merge-commit, resume from checkpoint: no dupes, batch-identical") {
    val inputDir = Files.createTempDirectory("clips-in").toString
    graft.TestSpark.writeTimeOrdered(ClipGen.clipsDf(spark, 160), inputDir, 8)

    val expected = Windows.tumblingCounts(spark.read.parquet(inputDir))
      .orderBy("w_start_ms", "codec", "sr_hz").collect().map(_.toSeq).toSeq

    val tableDir = Files.createTempDirectory("sink").toString
    val ckpt = Files.createTempDirectory("ckpt").toString
    val table = ClipTable(tableDir, Seq("w_start_ms", "codec", "sr_hz"), numBuckets = 4)

    // First run: crash AFTER the merge of batch 2 committed (the worst
    // window — sink applied, offsets not yet committed => replay).
    val seen = new AtomicInteger(0)
    def plan() = ClipStreamJob.tumblingCounts(
      ClipStreamJob.readClipStream(spark, inputDir, maxFilesPerTrigger = 1))
    val crashy = plan().writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, id: Long) =>
        table.merge(df, id)
        if (seen.incrementAndGet() == 3) throw new RuntimeException("injected crash")
      }
      .start()
    val failed = intercept[Exception] { crashy.awaitTermination(120000) }
    assert(failed.getMessage != null)

    // Resume: same checkpoint, same sink table. Batch 2 replays; the
    // replay guard makes it a no-op; everything else completes.
    val resumed = ClipStreamJob.runToTable(plan(), table, ckpt,
      Trigger.AvailableNow(), outputMode = "update")
    resumed.awaitTermination(120000)

    val got = table.read(spark)
      .select("w_start_ms", "codec", "sr_hz", "n_clips", "sum_dur_ms")
      .orderBy("w_start_ms", "codec", "sr_hz").collect().map(_.toSeq).toSeq
    assert(got == expected)
  }

  test("merge-on-read: idempotent per batchId, latest wins, compaction stable") {
    val dir = Files.createTempDirectory("mor").toString
    val t = ClipTable(dir, Seq("k"), numBuckets = 2, mergeOnRead = true)
    t.merge(Seq(("a", 1), ("b", 2)).toDF("k", "v"), 0)
    t.merge(Seq(("a", 1), ("b", 2)).toDF("k", "v"), 0) // replay: overwrite, no dupes
    t.merge(Seq(("a", 10), ("c", 3)).toDF("k", "v"), 1)
    def contents = t.read(spark).select("k", "v").as[(String, Int)].collect().toMap
    assert(contents == Map("a" -> 10, "b" -> 2, "c" -> 3))
    t.compact(spark)
    assert(contents == Map("a" -> 10, "b" -> 2, "c" -> 3))
    // post-compaction merges still work
    t.merge(Seq(("b", 20)).toDF("k", "v"), 2)
    assert(contents == Map("a" -> 10, "b" -> 20, "c" -> 3))
  }

  test("merge-on-read: kill after delta-commit, resume => batch-identical") {
    val inputDir = Files.createTempDirectory("clips-in-mor").toString
    graft.TestSpark.writeTimeOrdered(ClipGen.clipsDf(spark, 120), inputDir, 6)
    val expected = Windows.tumblingCounts(spark.read.parquet(inputDir))
      .orderBy("w_start_ms", "codec", "sr_hz").collect().map(_.toSeq).toSeq
    val tableDir = Files.createTempDirectory("sink-mor").toString
    val ckpt = Files.createTempDirectory("ckpt-mor").toString
    val table = ClipTable(tableDir, Seq("w_start_ms", "codec", "sr_hz"),
      numBuckets = 2, mergeOnRead = true)
    val seen = new AtomicInteger(0)
    def plan() = ClipStreamJob.tumblingCounts(
      ClipStreamJob.readClipStream(spark, inputDir, maxFilesPerTrigger = 1))
    val crashy = plan().writeStream.outputMode("update")
      .option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, id: Long) =>
        table.merge(df, id)
        if (seen.incrementAndGet() == 2) throw new RuntimeException("injected crash")
      }.start()
    intercept[Exception] { crashy.awaitTermination(120000) }
    val resumed = ClipStreamJob.runToTable(plan(), table, ckpt,
      Trigger.AvailableNow(), outputMode = "update")
    resumed.awaitTermination(120000)
    val got = table.read(spark)
      .select("w_start_ms", "codec", "sr_hz", "n_clips", "sum_dur_ms")
      .orderBy("w_start_ms", "codec", "sr_hz").collect().map(_.toSeq).toSeq
    assert(got == expected)
  }

  test("same input at two parallelism levels => identical rows") {
    val in = ClipGen.clipsDf(spark, 150)
    val a = Windows.tumblingCounts(in.repartition(2))
      .orderBy("w_start_ms", "codec", "sr_hz").collect().map(_.toSeq).toSeq
    val b = Windows.tumblingCounts(in.repartition(13))
      .orderBy("w_start_ms", "codec", "sr_hz").collect().map(_.toSeq).toSeq
    assert(a == b)
  }
}
