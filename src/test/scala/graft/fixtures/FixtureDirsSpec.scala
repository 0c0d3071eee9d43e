package graft.fixtures

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

class FixtureDirsSpec extends AnyFunSuite {

  test("ensureAtomic: racing generators collapse to one complete publish") {
    val parent = Files.createTempDirectory("fixdirs")
    val gate = new CountDownLatch(1)
    val writes = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = Executors.newFixedThreadPool(4)
    val results = (0 until 4).map { _ =>
      pool.submit(new java.util.concurrent.Callable[String] {
        override def call(): String = {
          gate.await()
          FixtureDirs.ensureAtomic(parent, "table-v1-n10") { tmp =>
            writes.incrementAndGet()
            Files.createDirectories(Paths.get(tmp))
            Files.writeString(Paths.get(tmp, "part-0"), "payload")
            Thread.sleep(30) // widen the race window
            Files.writeString(Paths.get(tmp, "_SUCCESS"), "")
          }
        }
      })
    }
    gate.countDown()
    val paths = results.map(_.get(30, TimeUnit.SECONDS))
    pool.shutdown()
    // every caller got the same complete directory
    assert(paths.toSet.size == 1)
    val target = Paths.get(paths.head)
    assert(Files.readString(target.resolve("part-0")) == "payload")
    assert(Files.exists(target.resolve("_SUCCESS")))
    // losers cleaned their temp dirs; nothing but the published target left
    val leftovers = Files.list(parent).iterator()
    var names = List.empty[String]
    while (leftovers.hasNext) names ::= leftovers.next().getFileName.toString
    assert(names == List("table-v1-n10"), s"leftovers: $names")
    // second call reuses without regenerating
    val again = FixtureDirs.ensureAtomic(parent, "table-v1-n10") { _ =>
      fail("regenerated an existing target")
    }
    assert(again == paths.head)
    assert(writes.get() >= 1 && writes.get() <= 4)
  }

  test("withProcessLock serializes a check-generate block across threads") {
    val dir = Files.createTempDirectory("fixlock")
    val marker = dir.resolve("done")
    val generations = new java.util.concurrent.atomic.AtomicInteger(0)
    val inside = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxInside = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = Executors.newFixedThreadPool(4)
    val fs = (0 until 4).map { _ =>
      pool.submit(new Runnable {
        override def run(): Unit =
          FixtureDirs.withProcessLock(dir) {
            val n = inside.incrementAndGet()
            maxInside.updateAndGet(m => math.max(m, n))
            if (!Files.exists(marker)) { // the unguarded race: check...
              Thread.sleep(20) // ...window...
              Files.writeString(marker, "v1") // ...generate
              generations.incrementAndGet()
            }
            inside.decrementAndGet()
          }
      })
    }
    fs.foreach(_.get(30, TimeUnit.SECONDS))
    pool.shutdown()
    assert(maxInside.get() == 1, "two threads inside the lock at once")
    assert(generations.get() == 1, s"generated ${generations.get()} times")
  }

  test("FixtureTable.media: six tables with today's directory names and globs") {
    // (table, root dir under data/, name at sf0.001, name at sf0.01): the
    // cached tables and the oracle globs depend on these names
    val expected = Seq(
      (ImageGen, "images", "images-v1-n100", "images-v1-n500"),
      (VideoGen, "videos", "videos-v2-n50", "videos-v2-n100"),
      (MixedImageGen, "mixed_images", "mixed-v1-n120", "mixed-v1-n500"),
      (MixedVideoGen, "mixed_videos", "mixedvid-v1-n120", "mixedvid-v1-n120"),
      (NearDupImageGen, "neardup_images", "neardup-v1-n120", "neardup-v1-n500"),
      (MixedAudioGen, "mixed_audio", "mixedaudio-v1-n160", "mixedaudio-v1-n500"))
    assert(FixtureTable.media == expected.map(_._1))
    for ((table, dir, small, big) <- expected; (sf, name) <- Seq("sf0.001" -> small, "sf0.01" -> big)) {
      assert(table.targetName(sf) == name)
      assert(table.targetName(s"testdata/$sf") == name)
      assert(table.defaultRoot.endsWith(s"/data/$dir"))
      assert(table.tablePath(sf) == Paths.get(table.defaultRoot, sf, name).toString)
      assert(table.glob(sf) == table.tablePath(sf) + "/*.parquet")
    }
  }
}
