package graft.streaming

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Stateful property spec of the ClipTable protocol: random histories of
  * merges, replays, compactions, repairs, leased reads and interrupted
  * steps, checked after every step against an in-memory model.
  *
  * The model is the set of surviving row versions `(k, batch, part, v)`.
  * A merge adds its rows (a replay re-adds identical ones), a compaction
  * keeps each key's winner, and `read`, `lookup` and `readAsOf` resolve
  * latest-batch-wins (`_batch_id`, then `_part_id`) over it. That is the
  * exact contract before any compaction and the documented surviving-
  * version contract of `readAsOf` after one. Every batch row sits in its
  * own Spark partition, so a key written twice in one batch has a defined
  * winner: the later row.
  *
  * Rerun at another seed with `CLIPTABLE_SPEC_SEED=<n>` (and
  * `CLIPTABLE_SPEC_HISTORIES=<n>` for more or fewer histories). */
class ClipTablePropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val seed = sys.env.get("CLIPTABLE_SPEC_SEED").map(_.toLong).getOrElse(20261019L)
  private val histories = sys.env.get("CLIPTABLE_SPEC_HISTORIES").map(_.toInt).getOrElse(8)
  private val pool = (0 until 6).map(i => s"k$i")

  sealed trait Step
  final case class Merge(rows: Seq[(Int, Int)]) extends Step
  final case class Replay(pick: Int) extends Step
  final case class CompactIfNeeded(maxDeltas: Int) extends Step
  case object Compact extends Step
  final case class Repair(rows: Seq[(Int, Int)]) extends Step
  final case class Conflict(value: Int) extends Step
  final case class Leased(mergeFirst: Option[Seq[(Int, Int)]], sweepOnly: Boolean) extends Step
  final case class CrashDelta(rows: Seq[(Int, Int)]) extends Step
  case object CrashStaging extends Step
  case object CrashDesign extends Step

  private val rowsGen: Gen[Seq[(Int, Int)]] = for {
    n <- Gen.choose(1, 4)
    rows <- Gen.listOfN(n, Gen.zip(Gen.choose(0, pool.size - 1), Gen.choose(0, 999)))
  } yield rows
  private val stepGen: Gen[Step] = Gen.frequency(
    8 -> rowsGen.map(Merge(_)),
    3 -> Gen.choose(0, 1000).map(Replay(_)),
    3 -> Gen.choose(0, 4).map(CompactIfNeeded(_)),
    2 -> Gen.const(Compact),
    2 -> rowsGen.map(Repair(_)),
    1 -> Gen.choose(0, 999).map(Conflict(_)),
    2 -> Gen.zip(Gen.option(rowsGen), Gen.oneOf(true, false)).map { case (m, s) => Leased(m, s) },
    2 -> rowsGen.map(CrashDelta(_)),
    1 -> Gen.const(CrashStaging),
    1 -> Gen.const(CrashDesign))
  private val historyGen: Gen[List[Step]] =
    Gen.choose(8, 12).flatMap(n => Gen.listOfN(n, stepGen))

  /** One surviving row version. */
  final case class V(k: String, b: Long, p: Int, v: Int)

  /** Latest-batch-wins over `vs`: (k, v, batch) per key, sorted. */
  private def resolve(vs: Iterable[V]): Seq[(String, Int, Long)] =
    vs.groupBy(_.k).values.map(_.maxBy(x => (x.b, x.p)))
      .map(x => (x.k, x.v, x.b)).toSeq.sorted

  private def rowsOf(df: DataFrame): Seq[(String, Int, Long)] =
    if (df.columns.isEmpty) Nil
    else df.select("k", "v", "_batch_id").as[(String, Int, Long)].collect().toSeq.sorted

  /** A batch whose row i sits in Spark partition i. */
  private def batchDf(rows: Seq[(String, Int)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, rows.length)).toDF("k", "v")

  private def listDir(p: Path): Seq[Path] =
    if (!Files.isDirectory(p)) Nil
    else { val s = Files.list(p); try s.toArray.toSeq.map(_.asInstanceOf[Path]) finally s.close() }

  private def copyDir(from: Path, to: Path): Unit = {
    graft.fixtures.FixtureDirs.deleteRecursively(to)
    Files.createDirectories(to.getParent)
    val s = Files.walk(from)
    try s.forEach(p => Files.copy(p, to.resolve(from.relativize(p).toString)))
    finally s.close()
  }

  /** Design-specific interruption: a compaction that crashed between the
    * atomic move of its new base to `compacted-v<N>` and the publish of
    * the snapshot naming it. The unpublished base holds a row that would
    * win every key it touches if a reader or a later compaction took it. */
  private def injectDesignCrash(t: ClipTable, dir: String): Unit = {
    val next = listDir(Paths.get(dir)).map(_.getFileName.toString)
      .filter(_.startsWith("compacted-v")).map(_.drop(11).toInt)
      .foldLeft(-1)(math.max) + 1
    Seq(("k0", -1, ClipTable.RepairBand * 4, 0, 0))
      .toDF("k", "v", "_batch_id", "_part_id", "_bucket")
      .write.parquet(Paths.get(dir, s"compacted-v$next").toString)
  }

  /** Run one history; returns the number of steps executed. */
  private def runHistory(h: Int, steps: List[Step]): Int = {
    val dir = Files.createTempDirectory(s"prop-h$h").toString
    val scratch = Files.createTempDirectory(s"prop-h$h-scratch").toString
    val t = ClipTable(dir, Seq("k"), numBuckets = 2, gcGraceMs = 0L)
    val rnd = new scala.util.Random(seed * 31 + h)
    var model = Set.empty[V]
    var deltas = Set.empty[Long] // batch ids with an unfolded delta
    val written = scala.collection.mutable.LinkedHashMap[Long, Seq[(String, Int)]]()
    var repaired = Set.empty[String]
    var nextBatch = 0L
    var executed = 0

    def versions(b: Long, rows: Seq[(String, Int)]): Set[V] =
      rows.zipWithIndex.map { case ((k, v), p) => V(k, b, p, v) }.toSet
    def add(b: Long, rows: Seq[(String, Int)]): Unit = {
      model ++= versions(b, rows); deltas += b; written(b) = rows
    }
    def compactModel(): Unit = {
      model = model.groupBy(_.k).values.map(_.maxBy(x => (x.b, x.p))).toSet
      deltas = Set.empty
    }
    def streamRows(raw: Seq[(Int, Int)]): Seq[(String, Int)] = {
      val rows = raw.map { case (k, v) => (pool(k), v) }.filterNot(r => repaired(r._1))
      if (rows.nonEmpty) rows else Seq((s"n$nextBatch", 1))
    }
    def check(what: String): Unit = {
      withClue(s"after $what: read") { assert(rowsOf(t.read(spark)) == resolve(model)) }
      val cut = if (rnd.nextInt(5) == 0) ClipTable.RepairBand + rnd.nextInt(4)
        else rnd.nextInt(nextBatch.toInt + 1).toLong - 1
      withClue(s"after $what: readAsOf($cut)") {
        assert(rowsOf(t.readAsOf(spark, cut)) == resolve(model.filter(_.b <= cut)))
      }
      val key = if (rnd.nextBoolean()) pool(rnd.nextInt(pool.size)) else s"n${rnd.nextInt(4)}"
      withClue(s"after $what: lookup($key)") {
        assert(rowsOf(t.lookup(spark, Seq(key))) == resolve(model.filter(_.k == key)))
      }
    }
    def beforeOrAfter(what: String, before: Seq[(String, Int, Long)],
                      after: Seq[(String, Int, Long)]): Unit = {
      val got = rowsOf(t.read(spark))
      assert(got == before || got == after,
        s"interrupted $what: read $got is neither the state before $before nor after $after")
    }

    steps.foreach { step =>
      step match {
        case Merge(raw) =>
          val rows = streamRows(raw)
          t.merge(batchDf(rows), nextBatch); add(nextBatch, rows); nextBatch += 1
        case Replay(pick) =>
          val ok = written.keys.filter(b => b < ClipTable.RepairBand &&
            !written(b).exists(r => repaired(r._1))).toIndexedSeq
          if (ok.nonEmpty) {
            val b = ok(pick % ok.size)
            t.merge(batchDf(written(b)), b); add(b, written(b))
          }
        case CompactIfNeeded(maxDeltas) =>
          val ran = t.compactIfNeeded(spark, maxDeltas)
          assert(ran == (deltas.size > maxDeltas),
            s"compactIfNeeded($maxDeltas) ran=$ran with ${deltas.size} unfolded deltas")
          if (ran) compactModel()
        case Compact =>
          t.compact(spark); compactModel()
        case Repair(raw) =>
          if (repaired.size < 3) {
            val rows = raw.map { case (k, v) => (pool(k), v) }
            val id = t.repair(batchDf(rows))
            assert(id == math.max(ClipTable.RepairBand, written.keys.foldLeft(-1L)(math.max) + 1))
            add(id, rows); repaired ++= rows.map(_._1)
          }
        case Conflict(v) =>
          if (repaired.nonEmpty) {
            val rows = Seq((repaired.min, v), (s"n$nextBatch", v))
            val e = intercept[IllegalStateException](t.merge(batchDf(rows), nextBatch))
            assert(e.getMessage.contains("repair"))
          }
        case Leased(mergeFirst, sweepOnly) =>
          val (df, lease) = t.readLeased(spark)
          val truth = resolve(model)
          mergeFirst.foreach { raw =>
            val rows = streamRows(raw)
            t.merge(batchDf(rows), nextBatch); add(nextBatch, rows); nextBatch += 1
          }
          if (sweepOnly) t.gcNow() else { t.compact(spark); compactModel() }
          t.gcNow()
          withClue("leased frame after compaction and sweep") { assert(rowsOf(df) == truth) }
          lease.release()
          t.gcNow()
        case CrashDelta(raw) =>
          // crash after the delta write, before anything else: a real
          // delta dir (written by a twin table) with no commit behind it,
          // next to the `_format` marker merge stamps before its write
          val rows = streamRows(raw)
          val twin = ClipTable(scratch, Seq("k"), numBuckets = 2)
          twin.merge(batchDf(rows), nextBatch)
          val before = resolve(model)
          if (!Files.exists(Paths.get(dir, "_format")))
            Files.copy(Paths.get(scratch, "_format"), Paths.get(dir, "_format"))
          copyDir(Paths.get(scratch, "delta", s"batch=$nextBatch"),
            Paths.get(dir, "delta", s"batch=$nextBatch"))
          beforeOrAfter("merge", before, resolve(model ++ versions(nextBatch, rows)))
          t.merge(batchDf(rows), nextBatch); add(nextBatch, rows); nextBatch += 1
        case CrashStaging | CrashDesign if written.isEmpty =>
          // a compaction of an empty table writes nothing to interrupt
        case CrashStaging =>
          val staging = Paths.get(dir, "_compact-staging")
          Files.createDirectories(staging)
          Files.writeString(staging.resolve("part-00000.parquet"), "torn write")
          val state = resolve(model)
          beforeOrAfter("compaction", state, state)
          t.compact(spark); compactModel()
          assert(!Files.exists(staging), "leftover staging dir survived a compaction")
        case CrashDesign =>
          injectDesignCrash(t, dir)
          val state = resolve(model)
          beforeOrAfter("compaction", state, state)
          t.compact(spark); compactModel()
      }
      executed += 1
      check(step.toString)
    }
    executed
  }

  test("random histories agree with the latest-batch-wins model after every step") {
    val t0 = System.nanoTime()
    var s = Seed(seed)
    var total = 0
    (0 until histories).foreach { h =>
      val steps = historyGen.pureApply(Gen.Parameters.default, s)
      s = s.next
      val where = s"seed=$seed history=$h steps=$steps"
      try withClue(where + "\n") { total += runHistory(h, steps) }
      catch { case e: Exception if !e.isInstanceOf[org.scalatest.exceptions.TestFailedException] =>
        fail(where, e) }
    }
    info(f"seed=$seed histories=$histories steps=$total " +
      f"(${(System.nanoTime() - t0) / 1e9}%.1f s)")
    println(s"ClipTablePropertySpec: seed=$seed histories=$histories steps=$total")
  }
}
