package graft.streaming

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.audio.{AudioCodec, AudioSynth}
import graft.operators.Dedup

case class AudioEvt(clip_id: String, bytes: Array[Byte], codec: String,
                    sr_hz: Int, event_time: Timestamp)

/** Streaming dedup with bounded state: dropDuplicatesWithinWatermark keeps
  * the dedup key set only as long as the watermark requires (SURVEY §2.11
  * mandates it alongside windows/joins) — re-expresses the reference's
  * deterministic-key idempotency at the STREAM level instead of the sink. */
class StreamingDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(sec: Long) = new Timestamp(1704067200000L + sec * 1000)
  private def clip(id: String, sec: Long) =
    ClipEvt(id, "pcm16", 8000, 1000, s"<card><name>$id</name></card>", ts(sec))

  test("duplicate clip_ids within the watermark are dropped exactly-once") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[ClipEvt]
    val deduped = in.toDF()
      .withWatermark("event_time", "30 seconds")
      .dropDuplicatesWithinWatermark("clip_id")
      .groupBy(window(col("event_time"), "10 seconds"))
      .agg(count(lit(1)).as("n"))
      .select(unix_millis(col("window.start")).as("w"), col("n"))
    val q = deduped.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      // c1 delivered 3x (same batch + next batch), c2 once
      in.addData(clip("c1", 1), clip("c1", 1), clip("c2", 5))
      q.processAllAvailable()
      in.addData(clip("c1", 1)) // replayed duplicate, still inside watermark
      q.processAllAvailable()
      in.addData(clip("s", 600)); q.processAllAvailable()
      in.addData(clip("s2", 1200)); q.processAllAvailable()
      val got = spark.table("dedup_stream")
        .filter(col("w") === 1704067200000L).select("n").as[Long].collect()
      assert(got.toSeq == Seq(2L)) // c1 once + c2 once
    } finally q.stop()
  }

  test("EXACT-VERIFY incremental dedup against the table: first arrival wins") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[AudioEvt]
    val dir = java.nio.file.Files.createTempDirectory("tbl-incdedup").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt-incdedup").toString
    val table = ClipTable(dir, Seq("clip_id"), numBuckets = 2,
      mergeOnRead = true, gcGraceMs = 0L)
    val q = ClipStreamJob.runDedupedToTable(in.toDF(), table, ckpt,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    def pcm(seed: Long) =
      AudioCodec.encode(AudioSynth.synth(AudioSynth.mix64(seed), 8000, 8000), "pcm16")
    // trimmed + transcoded re-upload: the c15 attack, across micro-batches
    def twin(of: Array[Byte]) =
      AudioCodec.transcode(java.util.Arrays.copyOfRange(of, 320, of.length),
        "pcm16", "ulaw")
    try {
      val a = pcm(1); val b = pcm(2); val c = pcm(3); val d = pcm(4); val e = pcm(5)
      // batch 1 (empty table): a twin pair inside the very first batch
      // (e1 survives, e2 drops) — dedup runs before anything is stored
      in.addData(AudioEvt("a", a, "pcm16", 8000, ts(1)),
        AudioEvt("b", b, "pcm16", 8000, ts(2)),
        AudioEvt("e1", e, "pcm16", 8000, ts(3)),
        AudioEvt("e2", twin(e), "ulaw", 8000, ts(4)))
      q.processAllAvailable()
      // batch 2: a's re-upload (vs the TABLE), a fresh clip, and a
      // batch-internal twin pair (d1 survives, d2 drops)
      in.addData(AudioEvt("a-re", twin(a), "ulaw", 8000, ts(10)),
        AudioEvt("c", c, "pcm16", 8000, ts(11)),
        AudioEvt("d1", d, "pcm16", 8000, ts(12)),
        AudioEvt("d2", twin(d), "ulaw", 8000, ts(13)))
      q.processAllAvailable()
      // batch 3: b's re-upload — lookback spans ALL prior batches, not a
      // watermark window
      in.addData(AudioEvt("b-re", twin(b), "ulaw", 8000, ts(2000)))
      q.processAllAvailable()
      val ids = table.read(spark).select("clip_id").as[String].collect().toSet
      assert(ids == Set("a", "b", "c", "d1", "e1"), ids.toString)
      // the decode-once discipline: fingerprints persisted at ingest
      val cols = table.read(spark).columns.toSet
      assert(Set("n_samples", "f1", "f2").subsetOf(cols), cols.toString)
    } finally q.stop()
  }

  private def pcm(seed: Long) =
    AudioCodec.encode(AudioSynth.synth(AudioSynth.mix64(seed), 8000, 8000), "pcm16")
  private def twin(of: Array[Byte]) =
    AudioCodec.transcode(java.util.Arrays.copyOfRange(of, 320, of.length), "pcm16", "ulaw")
  private def dedupTable(name: String) =
    ClipTable(Files.createTempDirectory(name).toString, Seq("clip_id"), numBuckets = 2,
      mergeOnRead = true, gcGraceMs = 0L)
  private def keptIds(t: ClipTable) = t.read(spark).select("clip_id").as[String].collect().toSet

  test("EXACT-VERIFY incremental dedup compacts the sink; first arrival still wins") {
    val table = dedupTable("tbl-incdedup-compact")
    val ckpt = Files.createTempDirectory("ckpt-incdedup-compact").toString
    // 17 deltas merged directly (an earlier writer), each one clip in the
    // stage's stored shape: the row plus its fingerprint columns
    val stored = Dedup.audioFingerprints(
        (0 until 17).map(i => AudioEvt(s"p$i", pcm(100 + i), "pcm16", 8000, ts(i))).toDF()
          .withColumn("_row", struct(col("*"))), idCol = "_row")
      .select(col("id.*"), col("n").as("n_samples"), col("f1"), col("f2"))
      .localCheckpoint(true)
    (0 until 17).foreach(i => table.merge(stored.filter(col("clip_id") === s"p$i"), 1000L + i))
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[AudioEvt]
    val q = ClipStreamJob.runDedupedToTable(in.toDF(), table, ckpt, Trigger.ProcessingTime(0L))
    try {
      // one stream batch: a re-upload of a pre-merged clip and a fresh clip
      in.addData(AudioEvt("p3-re", twin(pcm(103)), "ulaw", 8000, ts(100)),
        AudioEvt("f", pcm(200), "pcm16", 8000, ts(101)))
      q.processAllAvailable()
    } finally q.stop()
    // 18 unfolded deltas > the default 16: the batch's merge compacted them
    assert(scala.util.Using.resource(Files.list(Paths.get(table.root)))(
        _.anyMatch(_.getFileName.toString.startsWith("compacted-v"))),
      "no compacted base after the stream batch")
    assert(keptIds(table) == (0 until 17).map(i => s"p$i").toSet + "f")
  }

  test("EXACT-VERIFY incremental dedup: a replayed batch keeps the same ids (replay guard)") {
    val table = dedupTable("tbl-incdedup-replay")
    val ckpt = Files.createTempDirectory("ckpt-incdedup-replay").toString
    val inputDir = Files.createTempDirectory("in-incdedup-replay").toString
    val a = pcm(11); val b = pcm(12); val c = pcm(13); val d = pcm(14)
    // one file per micro-batch, in arrival order
    def write(rows: Seq[AudioEvt]): Unit = {
      rows.toDF().coalesce(1).write.mode("append").parquet(inputDir)
      Thread.sleep(50)
    }
    write(Seq(AudioEvt("a", a, "pcm16", 8000, ts(1)), AudioEvt("b", b, "pcm16", 8000, ts(2))))
    write(Seq(AudioEvt("a-re", twin(a), "ulaw", 8000, ts(10)),
      AudioEvt("c", c, "pcm16", 8000, ts(11)),
      AudioEvt("d1", d, "pcm16", 8000, ts(12)),
      AudioEvt("d2", twin(d), "ulaw", 8000, ts(13))))
    def run(): Unit = ClipStreamJob.runDedupedToTable(
        spark.readStream.schema(Encoders.product[AudioEvt].schema)
          .option("maxFilesPerTrigger", 1).parquet(inputDir),
        table, ckpt, Trigger.AvailableNow())
      .awaitTermination(120000)
    run()
    val first = keptIds(table)
    assert(first == Set("a", "b", "c", "d1"), first.toString)
    // batch 1 merged but its commit is lost: the restart replays it over
    // a table that already holds its survivors
    val commit = Paths.get(ckpt, "commits", "1")
    Files.delete(commit)
    Files.deleteIfExists(Paths.get(ckpt, "commits", ".1.crc"))
    run()
    assert(Files.exists(commit), "batch 1 was not replayed")
    assert(keptIds(table) == first)
    // input that arrives while the query is stopped: a re-upload of an id
    // merged before the stop, and a fresh clip
    write(Seq(AudioEvt("b-re", twin(b), "ulaw", 8000, ts(20)),
      AudioEvt("e", pcm(15), "pcm16", 8000, ts(21))))
    run()
    assert(Files.exists(Paths.get(ckpt, "commits", "2")), "the new input did not run")
    assert(keptIds(table) == first + "e")
  }

  test("EXACT-VERIFY incremental dedup: an id twice in one batch drops if either row matches") {
    val table = dedupTable("tbl-incdedup-twice")
    val ckpt = Files.createTempDirectory("ckpt-incdedup-twice").toString
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[AudioEvt]
    val q = ClipStreamJob.runDedupedToTable(in.toDF(), table, ckpt, Trigger.ProcessingTime(0L))
    val a = pcm(31); val b = pcm(32)
    try {
      in.addData(AudioEvt("k1", a, "pcm16", 8000, ts(1)), AudioEvt("k2", b, "pcm16", 8000, ts(2)))
      q.processAllAvailable()
      // x and y each come twice, with the near-dup first in x and last in y
      in.addData(AudioEvt("x", twin(a), "ulaw", 8000, ts(10)),
        AudioEvt("x", pcm(33), "pcm16", 8000, ts(11)),
        AudioEvt("y", pcm(34), "pcm16", 8000, ts(12)),
        AudioEvt("y", twin(b), "ulaw", 8000, ts(13)),
        AudioEvt("z", pcm(35), "pcm16", 8000, ts(14)))
      q.processAllAvailable()
    } finally q.stop()
    assert(keptIds(table) == Set("k1", "k2", "z"))
  }

  test("EXACT-VERIFY incremental dedup: a superseded row version never causes a drop") {
    val table = dedupTable("tbl-incdedup-superseded")
    val ckpt = Files.createTempDirectory("ckpt-incdedup-superseded").toString
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[AudioEvt]
    val q = ClipStreamJob.runDedupedToTable(in.toDF(), table, ckpt, Trigger.ProcessingTime(0L))
    val a = pcm(21); val b = pcm(22); val c = pcm(23)
    // c with 400 leading samples cut: 240 samples from c's twin (160 cut),
    // past maxTrim, so no candidate of it, though their aligned correlation
    // is near 1
    val cLate = java.util.Arrays.copyOfRange(c, 800, c.length)
    try {
      in.addData(AudioEvt("k", a, "pcm16", 8000, ts(1)), AudioEvt("m", c, "pcm16", 8000, ts(2)))
      q.processAllAvailable()
      // both keys re-arrive: k with an unrelated signal, m with c cut late
      in.addData(AudioEvt("k", b, "pcm16", 8000, ts(10)),
        AudioEvt("m", cLate, "pcm16", 8000, ts(11)))
      q.processAllAvailable()
      // twins of the superseded a and c, and of k's current b
      in.addData(AudioEvt("a-twin", twin(a), "ulaw", 8000, ts(20)),
        AudioEvt("b-twin", twin(b), "ulaw", 8000, ts(21)),
        AudioEvt("c-twin", twin(c), "ulaw", 8000, ts(22)))
      q.processAllAvailable()
    } finally q.stop()
    // a-twin and c-twin pair only with the superseded versions of k and m;
    // b-twin pairs with k as it stands
    assert(keptIds(table) == Set("k", "m", "a-twin", "c-twin"))
  }

  test("EXACT-VERIFY incremental dedup: per-batch jobs and shuffle are batch-sized") {
    val table = dedupTable("tbl-incdedup-cost")
    val ckpt = Files.createTempDirectory("ckpt-incdedup-cost").toString
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[AudioEvt]
    val q = ClipStreamJob.runDedupedToTable(in.toDF(), table, ckpt, Trigger.ProcessingTime(0L))
    // jobs of batch 1 of this query, and the shuffle bytes their stages write
    val listener = new SparkListener {
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      val shuffleBytes = new java.util.concurrent.atomic.AtomicLong()
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).map(_.getProperty(k)).orNull
        if (prop("sql.streaming.queryId") == q.id.toString && prop("streaming.sql.batchId") == "1") {
          jobs.incrementAndGet()
          e.stageIds.foreach(stages.add)
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (stages.contains(e.stageInfo.stageId))
          shuffleBytes.addAndGet(e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    try {
      in.addData((0 until 16).map(i => AudioEvt(s"s$i", pcm(300 + i), "pcm16", 8000, ts(i))): _*)
      q.processAllAvailable()
      val sinkBytes = table.read(spark).select(sum(length(col("bytes")))).as[Long].head()
      spark.sparkContext.addSparkListener(listener)
      // batch 1: one planted twin of a stored clip plus a fresh clip
      in.addData(AudioEvt("s3-re", twin(pcm(303)), "ulaw", 8000, ts(100)),
        AudioEvt("fresh", pcm(400), "pcm16", 8000, ts(101)))
      q.processAllAvailable()
      org.apache.spark.graft.ListenerBusDrain(spark.sparkContext)
      assert(keptIds(table) == (0 until 16).map(i => s"s$i").toSet + "fresh")
      // measured on this fixture: 6 jobs and 24,210 shuffle bytes against a
      // 256,000-byte sink payload (fingerprint, probe broadcast, candidate
      // collect, verify shuffle, verify collect, merge). The former
      // three-step batch ran 15 jobs and wrote 56,976 bytes (each exchange
      // of the latest-wins candidate read and the two-join verify was a job
      // of its own); the single lazy plan before it ran 24 jobs and wrote
      // 258,361 bytes (the whole payload went through the MOR latest-wins
      // window before the candidate reduction)
      assert(listener.jobs.get <= 6, s"${listener.jobs.get} jobs in one batch")
      assert(listener.shuffleBytes.get < sinkBytes,
        s"batch shuffled ${listener.shuffleBytes.get} bytes, sink payload is $sinkBytes")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      q.stop()
    }
  }
}
