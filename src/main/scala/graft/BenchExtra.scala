package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.fixtures.ClipGen

/** Optimization-round measurement harness (guide §1): the EXACT query-sweep
  * methodology of the frozen `Bench` main (clearCache + persistent-RDD
  * unpersist + page-cache warm before every timed run, best-of-k noop-sink
  * timings) as a standalone main with a name filter, so single queries can
  * be re-measured in isolation without the streaming phases. `Bench` itself
  * is frozen for measurement; this adds NO timed entries to the graded
  * bench — it exists so before/after numbers in OPTIMIZATION_r07.md are
  * apples-to-apples with the driver's sweep.
  *
  * Run: `sbt "runMain graft.BenchExtra [prefix[,prefix...]] [k]"`.
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
  * SPARK_GRAFT_CPUS defaults to the JVM's available processors.
  * A query whose k runs all fail prints FAILED instead of a time, and the
  * main then exits non-zero.
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.hostCpus
    val filter = if (args.nonEmpty) args(0) else "all"
    // clamp like the frozen Bench's best-of-k depths: k < 1 would run a
    // query zero times and crash on ts.min after the warm-up work
    val k = math.max(1, if (args.length > 1) args(1).toInt else 2)
    val spark = GraftSession.create(s"local[$cpus]", cpus, "graft-benchextra")
    val (clipsPath, updatesPath) = ClipGen.ensure(spark, sfDir)

    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      filter == "all" ||
        filter.split(",").map(_.trim).filter(_.nonEmpty).exists(n.startsWith)
    }
    val needsImages = selected.exists { case (n, _) =>
      n.startsWith("i") || n.startsWith("v") }
    val imagesPath =
      if (needsImages) graft.fixtures.ImageGen.ensure(spark, sfDir) else ""
    val videosPath =
      if (needsImages) graft.fixtures.VideoGen.ensure(spark, sfDir) else ""
    val mixedPath =
      if (needsImages) graft.fixtures.MixedImageGen.ensure(spark, sfDir) else ""
    val mixedVideoPath =
      if (needsImages) graft.fixtures.MixedVideoGen.ensure(spark, sfDir) else ""
    val nearDupPath =
      if (needsImages) graft.fixtures.NearDupImageGen.ensure(spark, sfDir) else ""

    // identical organic variants to Bench's (bench-only timing
    // identities). DELIBERATELY duplicated: Bench.scala is frozen for
    // measurement (the driver hashes it), so its private list cannot be
    // exposed for sharing — keep this block textually in sync with
    // Bench.organicVariants when (and only when) a future non-frozen
    // round edits it there.
    val organic: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "c14org_neardup_organic" -> ((s: SparkSession, dir: String) =>
        graft.operators.Dedup.audioNearDup(
          ClipGen.readClips(s, dir).select("clip_id", "bytes", "codec", "sr_hz"))),
      "c15org_neardup_shift_organic" -> ((s: SparkSession, dir: String) =>
        graft.operators.Dedup.audioNearDupShift(
          ClipGen.readClips(s, dir).select("clip_id", "bytes", "codec", "sr_hz"))),
      "c10org_band_energies_organic" -> ((s: SparkSession, dir: String) =>
        ClipGen.readClips(s, dir)
          .withColumn("bands", graft.functions.GraftFunctions.pcm_band_energies(
            col("bytes"), col("codec"), col("sr_hz")))
          .select(col("clip_id"),
            element_at(col("bands"), 1).as("band1"),
            element_at(col("bands"), 4).as("band4"),
            element_at(col("bands"), 8).as("band8"))))
    val timed = selected ++ organic.filter { case (n, _) =>
      filter == "all" ||
        filter.split(",").map(_.trim).filter(_.nonEmpty).exists(n.startsWith)
    }

    val results = timed.map { case (name, fn) =>
      def once(): Double = {
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.valuesIterator
          .foreach(_.unpersist(blocking = true))
        Bench.warmPageCache(clipsPath)
        Bench.warmPageCache(updatesPath)
        Bench.warmPageCache(sfDir)
        if (name.startsWith("i") || name.startsWith("v")) {
          Bench.warmPageCache(imagesPath); Bench.warmPageCache(videosPath)
          Bench.warmPageCache(mixedPath); Bench.warmPageCache(mixedVideoPath)
          Bench.warmPageCache(nearDupPath)
        }
        spark.sparkContext.setJobDescription(s"benchextra: $name")
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      // each run on its own: a failed run is reported and left out, never
      // recorded as a timing
      val ts = (1 to k).flatMap { r =>
        try Some(once())
        catch { case e: Exception =>
          println(s"[benchextra] $name run $r FAILED: ${e.getMessage}"); None }
      }
      val best = if (ts.isEmpty) "FAILED" else f"${ts.min}%.3f"
      println(s"[benchextra] $name: min=$best  runs=${ts.map(t => f"$t%.3f").mkString(",")}")
      name -> best
    }
    println("[benchextra] summary: " +
      results.map { case (n, t) => s"$n=$t" }.mkString(" "))
    spark.stop()
    if (results.exists(_._2 == "FAILED")) sys.exit(1)
  }
}
