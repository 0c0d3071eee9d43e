package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Operational backfill/repair: when a range of the sink is damaged or a
  * correction arrives beyond the stream's lateness bound, `repair` merges
  * a recomputed batch that supersedes everything the stream wrote for
  * those keys — idempotently, and without colliding with stream epochs. */
class BackfillSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rows(t: ClipTable): Map[String, Int] =
    t.read(spark).select("k", "v").as[(String, Int)].collect().toMap

  test("repair restores a MOR table after physical delta loss; idempotent; stacks") {
    val dir = Files.createTempDirectory("tbl-repair").toString
    val t = ClipTable(dir, Seq("k"), numBuckets = 2, mergeOnRead = true)
    (0 until 4).foreach(i => t.merge(Seq((s"k$i", i), ("shared", i)).toDF("k", "v"), i))
    val truth = Map("k0" -> 0, "k1" -> 1, "k2" -> 2, "k3" -> 3, "shared" -> 3)
    assert(rows(t) == truth)

    // physical damage: batch 2's delta vanishes (disk loss / fat-fingered
    // cleanup) — k2 is gone and `shared` silently time-travels to batch 3
    graft.fixtures.FixtureDirs.deleteRecursively(
      java.nio.file.Paths.get(dir, "delta", "batch=2"))
    assert(rows(t) == truth - "k2")

    // repair with the recomputed range (the batch twin re-run over source)
    val id1 = t.repair(Seq(("k2", 2), ("shared", 3)).toDF("k", "v"))
    assert(id1 >= ClipTable.RepairBand)
    assert(rows(t) == truth)

    // idempotent: re-merging the same repair is a latest-wins fixed point
    t.merge(Seq(("k2", 2), ("shared", 3)).toDF("k", "v"), id1)
    assert(rows(t) == truth)

    // a later stream epoch CANNOT collide with the repair's delta dir
    t.merge(Seq(("k9", 9)).toDF("k", "v"), 4)
    assert(rows(t) == truth + ("k9" -> 9))

    // repairs stack: a newer repair supersedes an older one
    val id2 = t.repair(Seq(("k2", 22)).toDF("k", "v"))
    assert(id2 > id1)
    assert(rows(t) == truth + ("k9" -> 9) + ("k2" -> 22))

    // compaction folds repairs like any delta
    val eager = ClipTable(dir, Seq("k"), numBuckets = 2, mergeOnRead = true,
      gcGraceMs = 0L)
    eager.compact(spark)
    assert(rows(eager) == truth + ("k9" -> 9) + ("k2" -> 22))
  }

  test("schema evolution: a later batch adds a column, both modes keep it") {
    // The reader reads the heterogeneous base+delta file set directly —
    // without mergeSchema it took one file's schema and silently dropped
    // the new column. Old rows read
    // NULL for the new column, evolved rows keep their value, and
    // compaction preserves the evolved schema.
    val dir = Files.createTempDirectory("tbl-evolve").toString
    val t = ClipTable(dir, Seq("k"), numBuckets = 2, gcGraceMs = 0L)
    t.merge(Seq(("a", 1), ("b", 2)).toDF("k", "v"), 0)
    t.merge(Seq(("b", 20, "en"), ("c", 30, "de")).toDF("k", "v", "lang"), 1)
    def check(tab: ClipTable): Unit = {
      val got = tab.read(spark).select("k", "v", "lang")
        .as[(String, Int, Option[String])].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got == Map("a" -> (1, None), "b" -> (20, Some("en")),
        "c" -> (30, Some("de"))), got.toString)
    }
    // the snapshot's schema is what the parquet reader's mergeSchema
    // infers over the same live dirs: nullable, same field order
    def inferred(dirs: String*) = spark.read.option("mergeSchema", "true")
      .parquet(dirs.map(java.nio.file.Paths.get(dir, _).toString): _*).schema
    check(t)
    assert(t.read(spark).schema == inferred("delta/batch=0", "delta/batch=1"))
    t.compact(spark)
    check(t)
    assert(t.read(spark).schema == inferred("compacted-v0"))
  }

  test("stream-band merge to a repaired key fails loudly (both modes)") {
    // ADVICE r4 (medium): the 'only repair behind the watermark' contract
    // was documented but unenforced — a violating stream write yielded
    // silently stale reads. Now it aborts the batch (default policy).
    val dir = Files.createTempDirectory("tbl-guard").toString
    val t = ClipTable(dir, Seq("k"), numBuckets = 2)
    t.merge(Seq(("a", 1), ("b", 2)).toDF("k", "v"), 0)
    t.repair(Seq(("b", 20)).toDF("k", "v"))
    assert(rows(t) == Map("a" -> 1, "b" -> 20))
    // stream write to the repaired key: loud failure, table unchanged
    val e = intercept[IllegalStateException] {
      t.merge(Seq(("b", 999), ("c", 3)).toDF("k", "v"), 1)
    }
    assert(e.getMessage.contains("repair"))
    assert(rows(t) == Map("a" -> 1, "b" -> 20), "leaked stale rows")
    // untouched keys still merge normally
    t.merge(Seq(("c", 3)).toDF("k", "v"), 2)
    assert(rows(t) == Map("a" -> 1, "b" -> 20, "c" -> 3))
    // re-running the repair itself stays legal (repair-band skips the check)
    t.repair(Seq(("b", 21)).toDF("k", "v"))
    assert(rows(t) == Map("a" -> 1, "b" -> 21, "c" -> 3))
  }

  test("warn policy proceeds; repair still wins the tiebreak") {
    val dir = Files.createTempDirectory("tbl-guard-warn").toString
    val t = ClipTable(dir, Seq("k"), numBuckets = 2, mergeOnRead = true,
      repairConflictPolicy = "warn")
    t.merge(Seq(("a", 1)).toDF("k", "v"), 0)
    t.repair(Seq(("a", 10)).toDF("k", "v"))
    t.merge(Seq(("a", 999), ("b", 2)).toDF("k", "v"), 1) // warns, proceeds
    // the non-conflicting key lands; the repaired key stays at the repair
    // value — exactly the staleness the warn policy accepts
    assert(rows(t) == Map("a" -> 10, "b" -> 2))
  }

  test("repair supersedes bad stream rows") {
    val dir = Files.createTempDirectory("tbl-repair-bad").toString
    val t = ClipTable(dir, Seq("k"), numBuckets = 2)
    t.merge(Seq(("a", 1), ("b", 2)).toDF("k", "v"), 0)
    t.merge(Seq(("b", 999)).toDF("k", "v"), 1) // a corrupted update
    assert(rows(t) == Map("a" -> 1, "b" -> 999))
    t.repair(Seq(("b", 2)).toDF("k", "v"))
    assert(rows(t) == Map("a" -> 1, "b" -> 2))
  }
}
