package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.BinaryType
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.audio.AudioCodec
import graft.fixtures.{ClipGen, TimedClipRow}

/** Each streaming query runs on a cloned session of its own. With Spark's
  * per-session artifact isolation on, every query got its own executor
  * class loader, so it missed `CodeGenerator`'s class cache (keyed by
  * class loader and code) and compiled every generated class again.
  * `GraftSession` turns isolation off; these cases pin that a second query
  * over the same input compiles nothing, for the windows sink and for the
  * dedup stage. The compile counter is JVM-wide, so each case runs its two
  * queries back to back and reads the sinks only after both. */
class CodegenReuseSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val NFiles = 4
  private val PerFile = 12

  /** `NFiles` time-ordered parquet files of `PerFile` clips each. File
    * `k >= 1` also carries trimmed, transcoded twins of clips 3 and 9 of
    * file `k - 1`, so the dedup stage has pairs to verify. */
  private lazy val inputDir: String = {
    val dir = Files.createTempDirectory("codegen-reuse-in").toString
    val epochMs = ClipGen.EpochBase.toEpochMilli
    def timed(idx: Long): TimedClipRow = {
      val r = ClipGen.clipRow(idx)
      TimedClipRow(r.clip_id, r.bytes, r.sr_hz, r.dur_ms, r.codec, r.transcript,
        r.person_idx, new Timestamp(epochMs + idx * 500L))
    }
    def twin(idx: Long, at: Timestamp): TimedClipRow = {
      val r = timed(idx)
      val skip = if (r.codec == AudioCodec.Pcm16) 320 else 160
      val twinCodec = if (r.codec == AudioCodec.Ulaw) AudioCodec.Alaw else AudioCodec.Ulaw
      r.copy(clip_id = r.clip_id + "-s", codec = twinCodec, event_time = at,
        bytes = AudioCodec.transcode(
          java.util.Arrays.copyOfRange(r.bytes, skip, r.bytes.length), r.codec, twinCodec))
    }
    (0 until NFiles).foreach { k =>
      val first = k.toLong * PerFile
      val originals = (first until first + PerFile).map(timed)
      val twins = if (k == 0) Nil
        else Seq(3L, 9L).map(o => twin(first - PerFile + o, originals.head.event_time))
      (originals ++ twins).toDF().coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(50)
    }
    dir
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Rows of a sink, sorted, with binary columns replaced by their hash. */
  private def canonical(df: DataFrame): Seq[Seq[Any]] = {
    val cols = df.schema.fields.toSeq.map { f =>
      if (f.dataType == BinaryType) sha2(col(f.name), 256).as(f.name) else col(f.name)
    }
    val rows = df.select(cols: _*)
    rows.orderBy(rows.columns.map(col).toIndexedSeq: _*).collect().map((r: Row) => r.toSeq).toSeq
  }

  /** Runs `start` twice, each into a fresh sink and checkpoint. Returns
    * both sinks and the classes compiled during the second query. */
  private def twice(keys: Seq[String],
      start: (ClipTable, String) => StreamingQuery): (ClipTable, ClipTable, Long) = {
    def once(): ClipTable = {
      val table = ClipTable(Files.createTempDirectory("codegen-reuse-sink").toString,
        keys, numBuckets = 4)
      val q = start(table, Files.createTempDirectory("codegen-reuse-ckpt").toString)
      try assert(q.awaitTermination(180000), "query did not finish")
      finally q.stop()
      q.exception.foreach(e => fail(e))
      table
    }
    val first = once()
    val before = compiles
    val second = once()
    (first, second, compiles - before)
  }

  test("artifact isolation is off on the engine's session") {
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") == "false")
  }

  test("a second windows query compiles no class") {
    val (a, b, compiled) = twice(Seq("w_start_ms", "codec", "sr_hz"), (t, ckpt) =>
      ClipStreamJob.runToTable(
        ClipStreamJob.tumblingCounts(ClipStreamJob.readClipStream(spark, inputDir, 1)),
        t, ckpt, Trigger.AvailableNow(), outputMode = "update"))
    assert(compiled == 0, s"second windows query compiled $compiled classes")
    val rows = canonical(a.read(spark))
    assert(rows.nonEmpty)
    assert(canonical(b.read(spark)) == rows)
  }

  test("a second dedup query compiles no class") {
    val (a, b, compiled) = twice(Seq("clip_id"), (t, ckpt) =>
      ClipStreamJob.runDedupedToTable(ClipStreamJob.readClipStream(spark, inputDir, 1),
        t, ckpt, Trigger.AvailableNow()))
    assert(compiled == 0, s"second dedup query compiled $compiled classes")
    val ids = a.read(spark).select("clip_id").as[String].collect().toSet
    // every planted twin dropped, so the verify step ran in both queries
    assert(ids == (0L until NFiles.toLong * PerFile).map(ClipGen.clipId).toSet)
    assert(canonical(b.read(spark)) == canonical(a.read(spark)))
  }
}
