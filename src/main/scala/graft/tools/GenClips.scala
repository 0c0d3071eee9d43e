package graft.tools

import graft.GraftSession
import graft.fixtures.ClipGen

/** Generate (or verify) the clip table for a scale-factor dir without
  * running the bench — lets the expensive sf1 generation run ahead of the
  * measurement. `sbt "runMain graft.tools.GenClips <sfDir>"`; runs on
  * `SPARK_GRAFT_CPUS` cores, else on every available core. */
object GenClips {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val cpus = GraftSession.hostCpus
    val spark = GraftSession.create(s"local[$cpus]", cpus, "graft-gen")
    val t0 = System.nanoTime()
    val (clips, updates) = ClipGen.ensure(spark, sfDir)
    println(f"GENERATED in ${(System.nanoTime() - t0) / 1e9}%.0f s: $clips , $updates")
    spark.stop()
  }
}
