package graft.tools

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.{Bench, GraftSession, SparkEntry}
import graft.audio.AudioCodec
import graft.fixtures.{ClipGen, FixtureTable}

/** The measurement tool. Four modes share one session set-up, one
  * scale-factor default, one query-name selector and one fixture step:
  *
  *  - `queries [prefix,...|all] [k]`: best-of-k noop-sink time per query,
  *    with the frozen `Bench`'s methodology (clearCache, persistent-RDD
  *    unpersist and page-cache warm before every run). Every run is
  *    printed; a run that throws is reported and left out, and a query
  *    whose runs all fail prints FAILED and makes the main exit 1. The
  *    tables the selection reads are generated before the first timed run.
  *  - `plans <sfDir> <outDir> <suffix> <prefix,...|all>`: the formatted
  *    plan of each selected `SparkEntry.queries` entry, written to
  *    `<outDir>/<name>_<suffix>.txt`. The core count is also the shuffle
  *    partition count, which plans print, so compare dumps made with the
  *    same `SPARK_GRAFT_CPUS`.
  *  - `gen [sfDir]`: generate the clip table and every media table of a
  *    scale factor ahead of a measurement.
  *  - `kernels [nClips]`: single-thread cost of the per-clip DSP kernels,
  *    with no Spark session.
  *
  * Run: `sbt "runMain graft.tools.Profile <mode> ..."`. The first line of
  * every mode is the host fingerprint. `SPARK_GRAFT_SF_DIR` is the scale
  * factor of `queries` and the default of `gen` (else the sf0.1 test
  * data); `SPARK_GRAFT_CPUS` the core count (else every available core).
  * An empty selection, or one with a prefix that matches no query, exits
  * 2, listing the valid names, before any session or fixture work.
  */
object Profile {

  private val usage =
    """usage: Profile queries [prefix,...|all] [k]
      |       Profile plans <sfDir> <outDir> <suffix> <prefix,...|all>
      |       Profile gen [sfDir]
      |       Profile kernels [nClips]""".stripMargin

  /** Bench-only timing identities, the same as the frozen `Bench`'s private
    * `organicVariants` (which cannot be shared from there): keep the two
    * lists in sync. */
  private val organic: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
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

  private def timed: Seq[(String, (SparkSession, String) => DataFrame)] =
    SparkEntry.queries.toSeq.sortBy(_._1) ++ organic

  /** The names (in order) that start with one of the comma-separated
    * prefixes of `spec`, or every name for `all`. Left, with the valid
    * names, when `spec` holds no prefix or a prefix that matches none. */
  def select(spec: String, names: Seq[String]): Either[String, Seq[String]] = {
    val prefixes = spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unmatched = prefixes.filterNot(p => names.exists(_.startsWith(p)))
    if (spec.trim == "all") Right(names)
    else if (prefixes.isEmpty || unmatched.nonEmpty)
      Left(s"no query name starts with ${
        if (prefixes.isEmpty) s"'$spec'" else unmatched.mkString(", ")
      }; valid names: ${names.mkString(" ")}")
    else Right(names.filter(n => prefixes.exists(n.startsWith)))
  }

  /** One line naming the host a measurement ran on. */
  def fingerprint(master: String): String = {
    def proc(file: String)(field: Seq[String] => String): String =
      Try(field(Files.readAllLines(Paths.get(file)).asScala.toSeq)).getOrElse("?")
    val memMb = proc("/proc/meminfo")(lines =>
      (lines.find(_.startsWith("MemTotal:")).get.split("\\s+")(1).toLong >> 10).toString)
    val load1 = proc("/proc/loadavg")(_.head.split(" ")(0))
    s"[profile] host nproc=${Runtime.getRuntime.availableProcessors}" +
      s" mem_total_mb=$memMb load1=$load1" +
      s" heap_max_mb=${Runtime.getRuntime.maxMemory >> 20} master=$master"
  }

  private def exit(msg: String): Nothing = {
    System.err.println(msg)
    sys.exit(2)
  }

  private def selected(spec: String, names: Seq[String]): Seq[String] =
    select(spec, names) match {
      case Right(picked) => picked
      case Left(msg) => exit(s"[profile] $msg")
    }

  /** The image, video and audio-container queries read the media tables. */
  private def mediaQuery(name: String): Boolean = Seq("i", "v", "a").exists(name.startsWith)

  /** Run `body` on a fresh session after generating the clip table, and
    * every media table when `media` (a selected query reads one). `body`
    * gets the clip-table dirs and the media-table dirs (empty unless
    * `media`) and returns whether it succeeded. */
  private def withFixtures(sfDir: String, media: Boolean)(
      body: (SparkSession, Seq[String], Seq[String]) => Boolean): Unit = {
    val cpus = GraftSession.hostCpus
    val master = s"local[$cpus]"
    println(fingerprint(master))
    val spark = GraftSession.create(master, cpus, "graft-profile")
    val ok = try {
      val (clips, updates) = ClipGen.ensure(spark, sfDir)
      val mediaDirs = if (media) FixtureTable.media.map(_.ensure(spark, sfDir)) else Nil
      body(spark, Seq(clips, updates), mediaDirs)
    } finally spark.stop()
    if (!ok) sys.exit(1)
  }

  def main(args: Array[String]): Unit = {
    val sfDefault = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    args.toList match {
      case "queries" :: rest if rest.size <= 2 =>
        val names = selected(rest.headOption.getOrElse("all"), timed.map(_._1))
        // k < 1 would time nothing
        val k = math.max(1, rest.lift(1).fold(2)(_.toInt))
        withFixtures(sfDefault, names.exists(mediaQuery)) { (spark, clipDirs, mediaDirs) =>
          queries(spark, sfDefault, names, k, name =>
            (clipDirs :+ sfDefault) ++ (if (mediaQuery(name)) mediaDirs else Nil))
        }
      case List("plans", sfDir, outDir, suffix, spec) =>
        val names = selected(spec, SparkEntry.queries.keys.toSeq.sorted)
        withFixtures(sfDir, names.exists(mediaQuery)) { (spark, _, _) =>
          Files.createDirectories(Paths.get(outDir))
          names.foreach { name =>
            val out = Paths.get(outDir, s"${name}_$suffix.txt")
            Files.write(out, SparkEntry.queries(name)(spark, sfDir).queryExecution
              .explainString(ExplainMode.fromString("formatted")).getBytes("UTF-8"))
            println(s"[profile] wrote $out")
          }
          true
        }
      case "gen" :: rest if rest.size <= 1 =>
        val sfDir = rest.headOption.getOrElse(sfDefault)
        val t0 = System.nanoTime()
        withFixtures(sfDir, media = true) { (_, clipDirs, mediaDirs) =>
          println(f"[profile] generated in ${(System.nanoTime() - t0) / 1e9}%.0f s: " +
            (clipDirs ++ mediaDirs).mkString(" , "))
          true
        }
      case "kernels" :: rest if rest.size <= 1 =>
        println(fingerprint("none"))
        kernels(rest.headOption.fold(200)(_.toInt))
      case _ => exit(usage)
    }
  }

  private def queries(spark: SparkSession, sfDir: String, names: Seq[String], k: Int,
                      warmDirs: String => Seq[String]): Boolean = {
    val fns = timed.toMap
    val results = names.map { name =>
      def once(): Double = {
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.valuesIterator
          .foreach(_.unpersist(blocking = true))
        warmDirs(name).foreach(Bench.warmPageCache)
        spark.sparkContext.setJobDescription(s"profile: $name")
        val t0 = System.nanoTime()
        fns(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      // each run on its own: a failed run is reported and left out, never
      // recorded as a timing
      val ts = (1 to k).flatMap { r =>
        try Some(once())
        catch { case e: Exception =>
          println(s"[profile] $name run $r FAILED: ${e.getMessage}"); None }
      }
      val best = if (ts.isEmpty) "FAILED" else f"${ts.min}%.3f"
      println(s"[profile] $name: min=$best  runs=${ts.map(t => f"$t%.3f").mkString(",")}")
      name -> best
    }
    println("[profile] summary: " + results.map { case (n, t) => s"$n=$t" }.mkString(" "))
    !results.exists(_._2 == "FAILED")
  }

  private def kernels(n: Int): Unit = {
    val rows = (0L until n.toLong).map(ClipGen.clipRow)
    def time(label: String)(f: => Unit): Unit = {
      f // warmup (JIT)
      f
      val t0 = System.nanoTime()
      f
      val ms = (System.nanoTime() - t0) / 1e6
      println(f"$label: ${ms / n}%.3f ms/clip  (${ms}%.0f ms / $n clips)")
    }
    time("bandEnergies32-pre")(rows.foreach(r =>
      AudioCodec.bandEnergies(r.bytes, r.codec, r.sr_hz, 32)))
    time("tonePair")(rows.foreach(r => AudioCodec.tonePair(r.bytes, r.codec, r.sr_hz)))
    time("bandEnergies32")(rows.foreach(r =>
      AudioCodec.bandEnergies(r.bytes, r.codec, r.sr_hz, 32)))
    time("rms")(rows.foreach(r => AudioCodec.rms(r.bytes, r.codec)))
    time("decode")(rows.foreach(r => AudioCodec.decode(r.bytes, r.codec)))
  }
}
