package graft.tools

import java.nio.file.{Files, Paths}

import graft.{GraftSession, SparkEntry}
import graft.fixtures.ClipGen

/** Dump `.explain("formatted")` for a list of queries to files — the
  * plans/r07/<query>_{before,after}.txt evidence the optimization round
  * commits. Run:
  * `sbt "runMain graft.tools.PlanDumpAll <sfDir> <outDir> <suffix> <name>[,<name>...]|all"`
  * (`all`: every `SparkEntry.queries` name). Runs on `SPARK_GRAFT_CPUS`
  * cores, else on every available core; the core count is also the
  * shuffle partition count, which plans print, so compare dumps made
  * with the same value. */
object PlanDumpAll {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: PlanDumpAll <sfDir> <outDir> <suffix> <name>[,...]|all")
    val Array(sfDir, outDir, suffix, namesCsv) = args.take(4)
    val names =
      if (namesCsv == "all") SparkEntry.queries.keys.toSeq.sorted
      else namesCsv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val cpus = GraftSession.hostCpus
    val spark = GraftSession.create(s"local[$cpus]", cpus, "graft-plandumpall")
    ClipGen.ensure(spark, sfDir)
    if (names.exists(n => n.startsWith("i") || n.startsWith("v"))) {
      graft.fixtures.ImageGen.ensure(spark, sfDir)
      graft.fixtures.VideoGen.ensure(spark, sfDir)
      graft.fixtures.MixedImageGen.ensure(spark, sfDir)
      graft.fixtures.MixedVideoGen.ensure(spark, sfDir)
      graft.fixtures.NearDupImageGen.ensure(spark, sfDir)
    }
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
