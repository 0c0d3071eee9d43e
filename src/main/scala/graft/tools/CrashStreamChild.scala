package graft.tools

import org.apache.spark.sql.streaming.Trigger

import graft.GraftSession
import graft.streaming.{ClipStreamJob, ClipTable}

/** Child JVM for the kill -9 crash soak (CrashKillSpec): drains whatever
  * has arrived in `liveDir` through the windowed pipeline into an
  * exactly-once ClipTable merge — one input file per micro-batch, with
  * incremental compaction forced often (maxDeltas = 3) so kills can land
  * inside the compaction swap window too — then exits 0. The parent test
  * SIGKILLs this process at increasing commit depths and asserts the sink
  * still converges to the batch ground truth. */
object CrashStreamChild {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: CrashStreamChild <liveDir> <tableDir> <ckptDir>")
    val live = args(0); val tableDir = args(1); val ckpt = args(2)
    val spark = GraftSession.create("local[2]", 2, "graft-crash-child")
    val table = ClipTable(tableDir, Seq("w_start_ms", "codec", "sr_hz"), numBuckets = 2)
    val q = ClipStreamJob.runToTable(
      ClipStreamJob.tumblingCounts(
        ClipStreamJob.readClipStream(spark, live, maxFilesPerTrigger = 1)),
      table, ckpt, Trigger.AvailableNow(), outputMode = "update", maxDeltas = 3)
    val drained = q.awaitTermination(300000)
    spark.stop()
    // a hung stream must NOT masquerade as a successful drain — the parent
    // test distinguishes "recovery hang" (exit 3) from "sink divergence"
    if (!drained) sys.exit(3)
  }
}
