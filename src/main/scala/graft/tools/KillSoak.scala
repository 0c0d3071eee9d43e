package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import graft.GraftSession
import graft.operators.Windows
import graft.streaming.ClipTable

/** Long randomized SIGKILL soak (ROADMAP "hours-scale kill soak"; the
  * CI-sized version is CrashKillSpec). Stages a large time-ordered input,
  * then repeatedly launches the streaming child (CrashStreamChild: windowed
  * pipeline -> exactly-once ClipTable merge, compaction forced every 3
  * deltas) and SIGKILLs it at SEEDED-RANDOM commit depths and post-commit
  * offsets until the soak duration elapses or the input drains. One final
  * clean run, then the sink is compared row-for-row against the batch
  * ground truth. Prints ONE JSON line; the seed makes any failure
  * reproducible.
  *
  *   SOAK_MINUTES (default 15)  target kill-phase duration
  *   SOAK_SLICES  (default 40·minutes)  input files (one micro-batch each)
  *   SOAK_SEED    (default 20260817)  RNG seed for kill depths/offsets
  *
  * Run: sbt 'runMain graft.tools.KillSoak'
  */
object KillSoak {

  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** Child classpath: a SNAPSHOT copy of the compiled classes (an sbt
    * recompile mid-soak would otherwise rewrite class files under a
    * launching child — observed as NoClassDefFoundError on kill attempt
    * 8 of an early run) + the Spark jar dir (sbt runMain executes in a
    * classloader, so java.class.path alone is not enough). The snapshot
    * is of where this code was loaded from: the classes directory, or the
    * jar a forked `sbt runMain` packs it into. */
  private def childClasspath: String = sys.env.getOrElse("SOAK_CLASSPATH", {
    val src = Paths.get(getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    val snap = Files.createTempDirectory("soak-classes").resolve(src.getFileName)
    val s = Files.walk(src)
    try s.forEach { p =>
      val dst = snap.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
    val jars = Files.list(Paths.get("/opt/spark/jars"))
    val jarCp = try jars.iterator().asScala.map(_.toString).mkString(":")
      finally jars.close()
    s"$snap:$jarCp"
  })

  def main(args: Array[String]): Unit = {
    val minutes = sys.env.getOrElse("SOAK_MINUTES", "15").toInt
    val slices = sys.env.getOrElse("SOAK_SLICES", (40 * minutes).toString).toInt
    val seed = sys.env.getOrElse("SOAK_SEED", "20260817").toLong
    val rnd = new java.util.Random(seed)
    val nClips = slices * 25L

    val spark = GraftSession.create("local[8]", 8, "graft-kill-soak")
    val staged = Files.createTempDirectory("soak-staged").toString
    // persist before slicing: writeTimeOrdered filters the corpus once
    // per slice, and without the cache every slice write would re-run
    // the whole synthesis (slices × corpus generation)
    val df = graft.fixtures.ClipGen.clipsDf(spark, nClips)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    df.count()
    writeTimeOrdered(spark, df, staged, slices)
    df.unpersist()
    val expected = Windows.tumblingCounts(spark.read.parquet(staged))
      .orderBy("w_start_ms", "codec", "sr_hz").collect().map(_.toSeq).toSeq

    val tableDir = Files.createTempDirectory("soak-sink").toString
    val ckpt = Files.createTempDirectory("soak-ckpt").toString
    val logDir = Files.createTempDirectory("soak-log")
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString

    def launch(tag: String): Process = new ProcessBuilder(
      (Seq(javaBin) ++ addOpens ++ Seq(
        "-Xmx3g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", childClasspath,
        "graft.tools.CrashStreamChild", staged, tableDir, ckpt)).asJava)
      .redirectOutput(logDir.resolve(s"$tag.out").toFile)
      .redirectErrorStream(true)
      .start()

    def commits(): Int = {
      val d = Paths.get(ckpt, "commits")
      if (!Files.exists(d)) 0
      else {
        val s = Files.list(d)
        try s.iterator().asScala.count(_.getFileName.toString.forall(_.isDigit))
        finally s.close()
      }
    }

    val t0 = System.currentTimeMillis()
    val deadline = t0 + minutes * 60000L
    var kills = 0
    var attempts = 0
    var drained = false
    while (!drained && System.currentTimeMillis() < deadline) {
      attempts += 1
      val p = launch(s"kill$attempts")
      val target = commits() + 1 + rnd.nextInt(4)
      val waitStart = System.currentTimeMillis()
      while (p.isAlive && commits() < target &&
             System.currentTimeMillis() - waitStart < 180000 &&
             System.currentTimeMillis() < deadline) Thread.sleep(50)
      if (p.isAlive) {
        Thread.sleep(rnd.nextInt(2500).toLong)
        val wasAlive = p.isAlive
        p.destroyForcibly()
        p.waitFor(60, TimeUnit.SECONDS)
        if (wasAlive) kills += 1
      } else {
        require(p.exitValue() == 0, s"child died on its own: ${p.exitValue()}")
        drained = true // everything processed before the deadline
      }
    }

    // clean final drain from whatever the kills left behind
    val fin = launch("final")
    require(fin.waitFor(30, TimeUnit.MINUTES), "final child timed out")
    require(fin.exitValue() == 0, s"final child failed (${fin.exitValue()}): " +
      new String(Files.readAllBytes(logDir.resolve("final.out"))).takeRight(2000))

    val table = ClipTable(tableDir, Seq("w_start_ms", "codec", "sr_hz"), numBuckets = 2)
    val got = table.read(spark)
      .select("w_start_ms", "codec", "sr_hz", "n_clips", "sum_dur_ms")
      .orderBy("w_start_ms", "codec", "sr_hz").collect().map(_.toSeq).toSeq
    val ok = got == expected
    val wallMin = (System.currentTimeMillis() - t0) / 60000.0
    println(
      f"""{"metric":"kill_soak","minutes":$wallMin%.1f,"kills":$kills,""" +
      s""""attempts":$attempts,"batch_commits":${commits()},"slices":$slices,""" +
      s""""n_clips":$nClips,"sink_rows":${got.size},"truth_rows":${expected.size},""" +
      s""""seed":$seed,"sink_matches_batch":$ok}""")
    spark.stop()
    if (!ok) sys.exit(1)
  }

  /** TestSpark.writeTimeOrdered, duplicated for the main tree (test
    * classes are not on the tools classpath). */
  private def writeTimeOrdered(spark: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame, dir: String, nSlices: Int): Unit = {
    import org.apache.spark.sql.functions._
    val ms = df.select(unix_millis(col("event_time")).as("ms"))
      .orderBy("ms").collect().map(_.getLong(0))
    val n = ms.length
    val cuts = (1 until nSlices).map(i => ms((i.toLong * n / nSlices).toInt))
    val bounds = (Long.MinValue +: cuts) :+ Long.MaxValue
    bounds.sliding(2).foreach { case Seq(lo, hi) =>
      df.filter(unix_millis(col("event_time")) >= lo &&
          unix_millis(col("event_time")) < hi)
        .coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(20)
    }
  }
}
