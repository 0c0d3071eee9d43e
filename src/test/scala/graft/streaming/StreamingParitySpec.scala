package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.fixtures.ClipGen
import graft.operators.Windows

/** North-rule invariant: the streaming engine must produce the reference's
  * (= batch plan's) output rows under exactly-once for the same input
  * stream + watermark. The stream runs the SAME logical plan via
  * graft.operators.Windows with a watermark, sinks through the ClipTable
  * MERGE, and must match batch bit-for-bit. */
class StreamingParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val N = 240L

  private lazy val inputDir: String = {
    val dir = Files.createTempDirectory("clips-in").toString
    // multiple time-ordered files => multiple micro-batches, watermark-safe
    graft.TestSpark.writeTimeOrdered(ClipGen.clipsDf(spark, N), dir, 6)
    dir
  }

  test("streaming tumbling windows == batch plan, exactly-once MERGE sink") {
    val batchExpected = Windows.tumblingCounts(spark.read.parquet(inputDir))
      .orderBy("w_start_ms", "codec", "sr_hz")
      .collect().map(_.toSeq).toSeq

    val tableDir = Files.createTempDirectory("sink").toString
    val ckpt = Files.createTempDirectory("ckpt").toString
    val table = ClipTable(tableDir, Seq("w_start_ms", "codec", "sr_hz"), numBuckets = 4)

    val clips = ClipStreamJob.readClipStream(spark, inputDir, maxFilesPerTrigger = 1)
    val q = ClipStreamJob.runToTable(
      ClipStreamJob.tumblingCounts(clips, "30 seconds"),
      table, ckpt, Trigger.AvailableNow(), outputMode = "update")
    q.awaitTermination(120000)

    val got = table.read(spark)
      .select("w_start_ms", "codec", "sr_hz", "n_clips", "sum_dur_ms")
      .orderBy("w_start_ms", "codec", "sr_hz")
      .collect().map(_.toSeq).toSeq
    assert(got.size == batchExpected.size,
      s"rows: stream=${got.size} batch=${batchExpected.size}")
    assert(got == batchExpected)
  }

  test("normalize-on-ingest: stream == batch, one (codec, sr_hz) group, tones kept") {
    // The resample stage must be a pure narrow map: windows over the
    // NORMALIZED stream equal the batch plan over the same normalized
    // input bit-for-bit, and the whole corpus collapses to one
    // (pcm16, 16000) group key.
    val norm = (df: org.apache.spark.sql.DataFrame) =>
      ClipStreamJob.normalizeRate(df, 16000)
    val batchExpected = Windows.tumblingCounts(norm(spark.read.parquet(inputDir)))
      .orderBy("w_start_ms", "codec", "sr_hz")
      .collect().map(_.toSeq).toSeq
    assert(batchExpected.forall(r => r(1) == "pcm16" && r(2) == 16000))

    val tableDir = Files.createTempDirectory("sink-norm").toString
    val ckpt = Files.createTempDirectory("ckpt-norm").toString
    val table = ClipTable(tableDir, Seq("w_start_ms", "codec", "sr_hz"), numBuckets = 4)
    val clips = ClipStreamJob.readClipStream(spark, inputDir, maxFilesPerTrigger = 2)
    val q = ClipStreamJob.runToTable(
      ClipStreamJob.tumblingCounts(norm(clips), "30 seconds"),
      table, ckpt, Trigger.AvailableNow(), outputMode = "update")
    q.awaitTermination(120000)
    val got = table.read(spark)
      .select("w_start_ms", "codec", "sr_hz", "n_clips", "sum_dur_ms")
      .orderBy("w_start_ms", "codec", "sr_hz")
      .collect().map(_.toSeq).toSeq
    assert(got == batchExpected)

    // and the normalization preserved the audio: the dominant tone of a
    // resampled clip equals the original's (fingerprint invariance under
    // rate conversion, the property audio dedup relies on downstream)
    val sample = spark.read.parquet(inputDir).limit(8)
    val orig = sample.select(col("clip_id"),
      element_at(graft.functions.GraftFunctions.pcm_tone_pair(
        col("bytes"), col("codec"), col("sr_hz")), 1).as("f1"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val resampled = ClipStreamJob.normalizeRate(sample, 16000)
      .select(col("clip_id"),
        element_at(graft.functions.GraftFunctions.pcm_tone_pair(
          col("bytes"), col("codec"), col("sr_hz")), 1).as("f1"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    orig.foreach { case (id, f1) =>
      assert(math.abs(resampled(id) - f1) <= 1, s"$id: $f1 -> ${resampled(id)}")
    }
  }

  test("wav container ingest: unwrapped stream == raw batch, bit-for-bit") {
    // Wrap the WHOLE fixture into WAV containers; ingestWav at the stream
    // door must recover exactly the raw-corpus pipeline: windows over the
    // unwrapped stream == the batch plan over the ORIGINAL raw clips.
    val wrappedDir = Files.createTempDirectory("clips-wav").toString
    val wrapped = spark.read.parquet(inputDir)
      .withColumn("bytes", graft.functions.GraftFunctions.wav_wrap(
        col("bytes"), col("codec"), col("sr_hz")))
      // container metadata is authoritative on ingest: poison the columns
      // to prove they are rewritten from the WAV header, not passed through
      .withColumn("codec", lit("unknown"))
      .withColumn("sr_hz", lit(-1))
    graft.TestSpark.writeTimeOrdered(wrapped, wrappedDir, 6)

    val batchExpected = Windows.tumblingCounts(spark.read.parquet(inputDir))
      .orderBy("w_start_ms", "codec", "sr_hz")
      .collect().map(_.toSeq).toSeq

    val tableDir = Files.createTempDirectory("sink-wav").toString
    val ckpt = Files.createTempDirectory("ckpt-wav").toString
    val table = ClipTable(tableDir, Seq("w_start_ms", "codec", "sr_hz"), numBuckets = 4)
    val q = ClipStreamJob.runToTable(
      ClipStreamJob.tumblingCounts(
        ClipStreamJob.ingestWav(
          ClipStreamJob.readClipStream(spark, wrappedDir, maxFilesPerTrigger = 2))),
      table, ckpt, Trigger.AvailableNow(), outputMode = "update")
    q.awaitTermination(120000)
    val got = table.read(spark)
      .select("w_start_ms", "codec", "sr_hz", "n_clips", "sum_dur_ms")
      .orderBy("w_start_ms", "codec", "sr_hz")
      .collect().map(_.toSeq).toSeq
    assert(got == batchExpected)
  }

  test("windowed extraction golden rows: stream == batch, values ordered by clip_id") {
    val spec = graft.queries.ClipQueries.cardsSpec
    val extract = (df: org.apache.spark.sql.DataFrame) =>
      Windows.windowedExtraction(graft.operators.Extraction(spec)(df))

    val batchExpected = extract(spark.read.parquet(inputDir))
      .orderBy("w_start_ms", "codec").collect().map(_.toSeq).toSeq

    val tableDir = Files.createTempDirectory("sink2").toString
    val ckpt = Files.createTempDirectory("ckpt2").toString
    val table = ClipTable(tableDir, Seq("w_start_ms", "codec"), numBuckets = 4)
    val clips = ClipStreamJob.readClipStream(spark, inputDir, maxFilesPerTrigger = 2)
      .withWatermark("event_time", "30 seconds")
    val q = ClipStreamJob.runToTable(extract(clips), table, ckpt,
      Trigger.AvailableNow(), outputMode = "update")
    q.awaitTermination(120000)

    val got = table.read(spark)
      .select("w_start_ms", "codec", "n_clips", "rows")
      .orderBy("w_start_ms", "codec").collect().map(_.toSeq).toSeq
    assert(got == batchExpected)
  }

  test("metrics listener emits a row per micro-batch with state + watermark") {
    val metricsPath = Files.createTempDirectory("metrics").resolve("m.jsonl").toString
    val l = MetricsListener.attach(spark, metricsPath)
    try {
      val tableDir = Files.createTempDirectory("sink3").toString
      val ckpt = Files.createTempDirectory("ckpt3").toString
      val table = ClipTable(tableDir, Seq("w_start_ms", "codec", "sr_hz"))
      val clips = ClipStreamJob.readClipStream(spark, inputDir, maxFilesPerTrigger = 2)
      val q = ClipStreamJob.runToTable(
        ClipStreamJob.tumblingCounts(clips), table, ckpt,
        Trigger.AvailableNow(), outputMode = "update")
      q.awaitTermination(120000)
      // listener is async — give it a beat
      Thread.sleep(2000)
      val m = MetricsListener.read(spark, metricsPath)
      assert(m.count() >= 3) // 6 input files / 2 per trigger
      val cols = m.columns.toSet
      for (c <- Seq("batch_id", "num_input_rows", "state_rows", "watermark"))
        assert(cols.contains(c), s"missing metric column $c")
      assert(m.agg(sum(col("num_input_rows"))).head.getLong(0) == N)
    } finally spark.streams.removeListener(l)
  }
}
