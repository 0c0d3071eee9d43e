package graft.fixtures

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.audio.{AudioCodec, AudioSynth}

/** One row of the engine's input table — exactly the BASELINE.json
  * `input_hint` shape: (clip_id, bytes, sr_hz, dur_ms, codec, transcript).
  * `person_idx` ties the clip back to its fixture person; `event_time` is
  * the derived deterministic event time (global dur_ms-accumulated clock
  * over clip index divided by `Streams` overlapping speakers — computed at
  * generation time, never in-stream, so every run and parallelism level
  * sees identical timestamps).
  */
final case class ClipRow(
    clip_id: String,
    bytes: Array[Byte],
    sr_hz: Int,
    dur_ms: Int,
    codec: String,
    transcript: String,
    person_idx: Int)

final case class TimedClipRow(
    clip_id: String,
    bytes: Array[Byte],
    sr_hz: Int,
    dur_ms: Int,
    codec: String,
    transcript: String,
    person_idx: Int,
    event_time: java.sql.Timestamp)

final case class TranscriptUpdate(
    clip_id: String,
    transcript: String,
    update_time: java.sql.Timestamp)

/** Deterministic synthesizer + Iceberg-style writer for the clips table.
  *
  * Layout: parquet partitioned by (p_codec, p_bucket) mirroring the
  * mandated Iceberg partition spec (bucket(clip_id), codec) — SURVEY.md
  * §7.0. `codec` stays as a data column (the partition dirs use copies) so
  * downstream engines (incl. the DuckDB oracle) see the full schema without
  * hive-partition inference.
  *
  * Everything is keyed off mix64(clipIdx) — same input at any parallelism.
  */
object ClipGen {

  /** Bump to invalidate cached generated tables. */
  val Version = 6

  /** Simulated concurrent speakers: event_time advances by dur_ms/Streams
    * per clip, so the table models `Streams` overlapping clip streams. */
  val Streams = 32

  /** Time-ordered write slices: the table is written in `Slices` strictly
    * increasing event-time ranges (strictly increasing file mtimes), so a
    * file-stream replay sees a time-ordered stream — the north rule's
    * "same input stream + watermark" presumes ordered arrival; max
    * out-of-orderness is bounded by one slice span. */
  val Slices = 8

  /** 16 buckets x 3 codecs = 48 leaf partitions -> enough file-level
    * parallelism for a 32-core scan even within one micro-batch; at real
    * cluster scale the bucket count rises with the executor count. */
  val NumBuckets = 16
  val EpochBase = java.time.Instant.parse("2024-01-01T00:00:00Z")

  /** Skewed codec distribution 80/15/5 (FIXTURES.md §2) — exercises
    * salted-repartition; skew re-expresses the reference's per-domain
    * request-burst problem (`/root/reference/scrape/scrape.go:344-346`). */
  def codecFor(h: Long): String = {
    val r = java.lang.Long.remainderUnsigned(h, 100L)
    if (r < 80) AudioCodec.Pcm16 else if (r < 95) AudioCodec.Ulaw else AudioCodec.Alaw
  }

  /** Skewed sample-rate distribution 70/20/10. */
  def srFor(h: Long): Int = {
    val r = java.lang.Long.remainderUnsigned(h, 100L)
    if (r < 70) 8000 else if (r < 90) 16000 else 44100
  }

  def durMsFor(h: Long): Int =
    200 + java.lang.Long.remainderUnsigned(h, 3801L).toInt // 200..4000 ms

  /** dur_ms of clip `idx` without synthesizing audio (prefix-sum helper). */
  def durOf(idx: Long): Int = {
    val h = AudioSynth.mix64(0xC11F_5EEDL + idx)
    durMsFor(AudioSynth.mix64(h + 3))
  }

  def clipId(idx: Long): String = f"clip-$idx%08d"

  /** Pure row synthesis for clip index `idx` (no Spark). */
  def clipRow(idx: Long): ClipRow = {
    val h = AudioSynth.mix64(0xC11F_5EEDL + idx)
    val codec = codecFor(AudioSynth.mix64(h + 1))
    val sr = srFor(AudioSynth.mix64(h + 2))
    val durMs = durMsFor(AudioSynth.mix64(h + 3))
    val n = (sr.toLong * durMs / 1000L).toInt
    val pcm = AudioSynth.synth(h, sr, n)
    val bytes = AudioCodec.encode(pcm, codec)
    val personIdx = (idx % Persons.N).toInt
    ClipRow(clipId(idx), bytes, sr, durMs, codec,
      Persons.transcript(Persons.all(personIdx)), personIdx)
  }

  /** Reference PCM for a clip — what decode_pcm must match at SNR >= 30 dB. */
  def referencePcm(idx: Long): Array[Float] = {
    val h = AudioSynth.mix64(0xC11F_5EEDL + idx)
    val sr = srFor(AudioSynth.mix64(h + 2))
    val durMs = durMsFor(AudioSynth.mix64(h + 3))
    AudioSynth.synth(h, sr, (sr.toLong * durMs / 1000L).toInt)
  }

  /** Deterministic ~20% late-update subset (the details-join / fallback
    * re-expression). Update arrives `delay` after the clip's event time. */
  def isUpdated(idx: Long): Boolean =
    java.lang.Long.remainderUnsigned(AudioSynth.mix64(0x0BDA_7E5EL + idx), 5L) == 0L

  // ---------------------------------------------------------------- spark

  /** Clip count for a scale-factor directory name ("sf0.01" -> 5000).
    * Unknown names fall back to the smallest test scale. */
  def clipCountFor(sfDir: String): Long = {
    val name = Paths.get(sfDir).getFileName.toString
    val sf = "sf([0-9.]+)".r.findFirstMatchIn(name).map(_.group(1).toDouble)
    val perUnit = sys.env.getOrElse("SPARK_GRAFT_CLIPS_PER_SF", "500000").toLong
    sf.map(s => math.max(100L, (s * perUnit).toLong)).getOrElse(500L)
  }

  /** Deterministic event time: global dur_ms-accumulated clock over clip
    * index, divided by `Streams` (overlapping speakers). Computed with a
    * distributed prefix-sum — stage 1 sums each contiguous index range,
    * the tiny per-partition totals are prefixed on the driver, stage 2
    * generates rows with exact offsets. O(n) work, O(P) driver state:
    * holds at 10^12 rows where a global window function would not. */
  def clipsDf(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    val parts = math.max(spark.sparkContext.defaultParallelism,
      (n / 2000L).toInt).min(256)
    val partSums = spark.range(0, n, 1, parts)
      .mapPartitions { it =>
        var first = -1L; var sum = 0L
        it.foreach { i => if (first < 0) first = i; sum += durOf(i) }
        if (first < 0) Iterator.empty else Iterator.single((first, sum))
      }.collect().sortBy(_._1)
    val baseOffsets = scala.collection.mutable.HashMap.empty[Long, Long]
    var acc = 0L
    partSums.foreach { case (first, sum) => baseOffsets(first) = acc; acc += sum }
    val offsetsB = spark.sparkContext.broadcast(baseOffsets.toMap)
    val epochMs = EpochBase.toEpochMilli
    spark.range(0, n, 1, parts)
      .mapPartitions { it =>
        val buf = it.buffered
        if (!buf.hasNext) Iterator.empty
        else {
          var prefix = offsetsB.value(buf.head)
          buf.map { i =>
            val r = clipRow(i)
            val ts = new java.sql.Timestamp(epochMs + prefix / Streams)
            prefix += r.dur_ms
            TimedClipRow(r.clip_id, r.bytes, r.sr_hz, r.dur_ms, r.codec,
              r.transcript, r.person_idx, ts)
          }
        }
      }.toDF()
  }

  def updatesDf(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    val clips = clipsDf(spark, n)
    val updated = clips.filter(udf((id: String) =>
        isUpdated(id.stripPrefix("clip-").toLong)).apply($"clip_id"))
      .select($"clip_id", $"person_idx", $"event_time")
    val enrich = udf((p: Int) => Persons.enrichedTranscript(Persons.all(p)))
    updated
      .withColumn("transcript", enrich($"person_idx"))
      .withColumn("update_time",
        timestamp_millis(unix_millis($"event_time") + lit(15000L)))
      .select($"clip_id", $"transcript", $"update_time")
  }

  private def bucketCol = pmod(crc32(col("clip_id").cast("string")), lit(NumBuckets))

  /** Where [[ensure]] keeps each scale's clips + updates by default. */
  val defaultRoot: String = FixtureDirs.dataRoot.resolve("clips").toString

  /** Generate (or reuse cached) clips + updates tables for `sfDir`.
    * Returns (clipsPath, updatesPath). */
  def ensure(spark: SparkSession, sfDir: String,
             root: String = defaultRoot): (String, String) = {
    val name = Paths.get(sfDir).getFileName.toString
    val dir = Paths.get(root, name)
    val clipsPath = dir.resolve("clips").toString
    val updatesPath = dir.resolve("updates").toString
    val marker = dir.resolve("_gen_version")
    val n = clipCountFor(sfDir)
    val want = s"v$Version n$n"
    // The mtime-ordered partitioned layout can't move to a versioned dir
    // name cheaply (24 GB at sf1), so racing sessions are serialized with a
    // cross-process flock instead; the marker check re-runs under the lock
    // so the loser of the race sees the winner's output and skips.
    FixtureDirs.withProcessLock(dir) {
    val have = if (Files.exists(marker)) Files.readString(marker).trim else ""
    if (have != want) {
      FixtureDirs.deleteRecursively(Paths.get(clipsPath))
      val df = clipsDf(spark, n)
        .withColumn("p_codec", col("codec"))
        .withColumn("p_bucket", bucketCol)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // Time-ordered slices by clip-id range (= event-time range), each
        // appended sequentially so file mtimes replay the stream in order.
        val step = math.max(1L, (n + Slices - 1) / Slices)
        var lo = 0L
        while (lo < n) {
          val hi = math.min(n, lo + step)
          df.filter(col("clip_id") >= clipId(lo) && col("clip_id") < clipId(hi))
            .repartition(3 * NumBuckets, col("p_codec"), col("p_bucket"))
            .write.mode(SaveMode.Append)
            .partitionBy("p_codec", "p_bucket")
            .parquet(clipsPath)
          Thread.sleep(1100) // distinct mtime seconds across slices
          lo = hi
        }
      } finally df.unpersist()
      updatesDf(spark, n)
        .repartition(4)
        .write.mode(SaveMode.Overwrite).parquet(updatesPath)
      Files.createDirectories(dir)
      Files.writeString(marker, want)
    }
    (clipsPath, updatesPath)
    } // withProcessLock
  }

  def readClips(spark: SparkSession, sfDir: String): DataFrame = {
    val (p, _) = ensure(spark, sfDir)
    spark.read.parquet(p).drop("p_codec", "p_bucket")
  }

  def readUpdates(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, p) = ensure(spark, sfDir)
    spark.read.parquet(p)
  }
}
