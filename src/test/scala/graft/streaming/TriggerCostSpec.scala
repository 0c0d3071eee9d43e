package graft.streaming

import java.nio.file.{Files, Path, StandardCopyOption}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.fixtures.ClipGen
import graft.operators.Windows

/** The two fixed per-trigger costs the engine leaves out, and what each
  * must keep:
  *  - `runToTable` runs no no-data micro-batch for an update-mode
  *    aggregation, while append mode and event-time timers keep theirs,
  *    the caller's session conf is left as it was, and the watermark a
  *    skipped batch would have carried survives a restart;
  *  - `GraftSession`'s discovery threshold lists a trigger's files on the
  *    driver instead of in a "Listing leaf files" job. */
class TriggerCostSpec extends AnyFunSuite {
  import TriggerCostSpec._

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val NoDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
  private val WinKeys = Seq("w_start_ms", "codec", "sr_hz")

  /** 240 clips (about 16 s of event time) as 3 time-ordered slice files,
    * then one file holding a copy of the earliest clip (id `late-0`) 60 s
    * earlier: written last, so the file source reads it last, behind the
    * watermark of every slice. */
  private lazy val staged: (Seq[Path], Path) = {
    val dir = Files.createTempDirectory("trigger-cost-in")
    val clips = ClipGen.clipsDf(spark, 240)
    TestSpark.writeTimeOrdered(clips, dir.toString, 3)
    val slices = parquets(dir)
    clips.orderBy("event_time").limit(1).withColumn("clip_id", lit("late-0"))
      .withColumn("event_time", col("event_time") - expr("INTERVAL 60 SECONDS"))
      .coalesce(1).write.mode("append").parquet(dir.toString)
    val late = parquets(dir).filterNot(slices.contains)
    assert(slices.size == 3 && late.size == 1)
    (slices, late.head)
  }

  private def parquets(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
      .sortBy(p => Files.getLastModifiedTime(p).toMillis)
    finally s.close()
  }

  /** A fresh directory holding copies of `files`, mtimes kept. */
  private def live(files: Seq[Path]): Path = {
    val d = Files.createTempDirectory("trigger-cost-live")
    files.foreach(reveal(_, d))
    d
  }

  private def reveal(f: Path, dir: Path): Unit =
    Files.copy(f, dir.resolve(f.getFileName), StandardCopyOption.COPY_ATTRIBUTES)

  private def windowsTable(): ClipTable =
    ClipTable(Files.createTempDirectory("trigger-cost-sink").toString, WinKeys, numBuckets = 2)

  /** The windows pipeline over `dir` with a 2 s watermark, so that the
    * slices' watermark closes a window, one file per trigger, drained into
    * `table`; returns the finished query. */
  private def drain(dir: Path, table: ClipTable, ckpt: String, mode: String): StreamingQuery = {
    val q = ClipStreamJob.runToTable(
      ClipStreamJob.tumblingCounts(ClipStreamJob.readClipStream(spark, dir.toString, 1),
        "2 seconds"),
      table, ckpt, Trigger.AvailableNow(), outputMode = mode)
    try assert(q.awaitTermination(120000), "query did not finish") finally q.stop()
    q.exception.foreach(e => fail(e))
    q
  }

  private def ckpt(): String = Files.createTempDirectory("trigger-cost-ckpt").toString

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.select("w_start_ms", "codec", "sr_hz", "n_clips", "sum_dur_ms")
      .orderBy("w_start_ms", "codec", "sr_hz").collect().map(_.toSeq).toSeq

  private def batchWindows: DataFrame =
    Windows.tumblingCounts(spark.read.parquet(staged._1.map(_.toString): _*))

  test("update-mode windows drain: one trigger per data batch, sink == batch plan") {
    val table = windowsTable()
    val q = drain(live(staged._1), table, ckpt(), "update")
    val progress = q.recentProgress.toSeq
    assert(progress.map(_.numInputRows) == Seq(80L, 80L, 80L),
      s"triggers: ${progress.map(p => p.batchId -> p.numInputRows)}")
    assert(rows(table.read(spark)) == rows(batchWindows))
  }

  test("append-mode windows drain keeps its flushing no-data batch") {
    val table = windowsTable()
    val q = drain(live(staged._1), table, ckpt(), "append")
    val progress = q.recentProgress.toSeq
    assert(progress.map(_.numInputRows) == Seq(80L, 80L, 80L, 0L),
      s"triggers: ${progress.map(p => p.batchId -> p.numInputRows)}")
    val noData = progress.last.batchId
    val emitted = table.readRawOpt(spark).get.filter(col("_batch_id") === noData).count()
    assert(emitted > 0, "the no-data batch emitted no window")
    // append mode emits exactly the windows the final watermark closed
    val wm = java.time.Instant.parse(progress.last.eventTime.get("watermark")).toEpochMilli
    assert(rows(table.read(spark)) == rows(batchWindows.filter(col("w_start_ms") + 10000 <= wm)))
  }

  test("the caller's no-data flag reads the same before and after both starts") {
    def both(): Unit = Seq("update", "append").foreach(m =>
      drain(live(staged._1.take(1)), windowsTable(), ckpt(), m))
    val before = spark.conf.getOption(NoDataKey)
    both()
    assert(spark.conf.getOption(NoDataKey) == before)
    try {
      spark.conf.set(NoDataKey, "true")
      both()
      assert(spark.conf.getOption(NoDataKey).contains("true"))
    } finally before.fold(spark.conf.unset(NoDataKey))(spark.conf.set(NoDataKey, _))
  }

  test("a trigger over 40 files starts no listing job") {
    val dir = Files.createTempDirectory("trigger-cost-40").resolve("in")
    ClipGen.clipsDf(spark, 40).coalesce(1).write.option("maxRecordsPerFile", 1L)
      .parquet(dir.toString)
    assert(parquets(dir).size == 40)
    val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        descriptions.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    def listingJobs(): Int = {
      descriptions.clear()
      val q = ClipStreamJob.runToTable(
        ClipStreamJob.tumblingCounts(ClipStreamJob.readClipStream(spark, dir.toString, 40)),
        windowsTable(), ckpt(), Trigger.AvailableNow(), outputMode = "update")
      try assert(q.awaitTermination(120000), "query did not finish") finally q.stop()
      q.exception.foreach(e => fail(e))
      assert(q.recentProgress.map(_.numInputRows).toSeq == Seq(40L))
      org.apache.spark.graft.ListenerBusDrain(spark.sparkContext)
      descriptions.asScala.count(_.startsWith("Listing leaf files"))
    }
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(listingJobs() == 0)
      // control: at Spark's default threshold the same trigger lists in a job
      val prev = spark.conf.get(key)
      spark.conf.set(key, "32")
      try assert(listingJobs() > 0) finally spark.conf.set(key, prev)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a restart keeps the watermark: a late row is dropped as in an uninterrupted run") {
    val (slices, late) = staged
    val metrics = Files.createTempDirectory("trigger-cost-metrics").resolve("m.jsonl")
    val listener = MetricsListener.attach(spark, metrics.toString)
    try {
      val whole = windowsTable()
      val q = drain(live(slices :+ late), whole, ckpt(), "update")

      val resumed = windowsTable()
      val dir = live(slices)
      val c = ckpt()
      drain(dir, resumed, c, "update")
      reveal(late, dir)
      val q2 = drain(dir, resumed, c, "update")
      assert(q2.recentProgress.map(_.numInputRows).toSeq == Seq(1L))

      org.apache.spark.graft.ListenerBusDrain(spark.sparkContext)
      def droppedPerTrigger(id: java.util.UUID): Seq[Long] =
        MetricsListener.read(spark, metrics.toString)
          .filter(col("query_id") === id.toString).orderBy("batch_id")
          .select("rows_dropped_by_watermark").as[Long].collect().toSeq
      assert(droppedPerTrigger(q.id) == Seq(0L, 0L, 0L, 1L))
      // a restarted query keeps its id, so its lines follow the first drain's
      assert(droppedPerTrigger(q2.id) == Seq(0L, 0L, 0L, 1L))
      assert(rows(resumed.read(spark)) == rows(whole.read(spark)))
      assert(rows(whole.read(spark)) == rows(batchWindows))
    } finally spark.streams.removeListener(listener)
  }

  test("update-mode flatMapGroupsWithState keeps the no-data batch its timers fire in") {
    val dir = Files.createTempDirectory("trigger-cost-timer")
    val t0 = ClipGen.EpochBase.toEpochMilli
    Seq(Event("k1", new Timestamp(t0)), Event("k2", new Timestamp(t0 + 60000))).foreach { e =>
      Seq(e).toDF().coalesce(1).write.mode("append").parquet(dir.toString)
      Thread.sleep(50)
    }
    val events = spark.readStream.schema(Seq(Event("", null)).toDF().schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
      .withWatermark("event_time", "10 seconds").as[Event]
    val status = events.groupByKey(_.k)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout)(expire)
      .toDF()
    val table = ClipTable(Files.createTempDirectory("trigger-cost-timer-sink").toString,
      Seq("k"), numBuckets = 2)
    val q = ClipStreamJob.runToTable(status, table, ckpt(), Trigger.AvailableNow(),
      outputMode = "update")
    try assert(q.awaitTermination(120000), "query did not finish") finally q.stop()
    q.exception.foreach(e => fail(e))
    // k1's timer (t0 + 5 s) fires only once the watermark passes it, which
    // the second file's event (t0 + 60 s) does after the input has ended
    assert(q.recentProgress.map(_.numInputRows).toSeq == Seq(1L, 1L, 0L))
    val got = table.read(spark).select("k", "status").orderBy("k").collect()
      .map { case Row(k: String, s: String) => k -> s }.toSeq
    assert(got == Seq("k1" -> "timed_out", "k2" -> "seen"))
  }
}

object TriggerCostSpec {
  final case class Event(k: String, event_time: Timestamp)
  final case class Status(k: String, status: String)

  /** Emits "seen" for a key's rows and arms a timer 5 s of event time
    * after its last row; emits "timed_out" when the timer fires. */
  def expire(k: String, rows: Iterator[Event], st: GroupState[Long]): Iterator[Status] =
    if (st.hasTimedOut) { st.remove(); Iterator(Status(k, "timed_out")) }
    else {
      val last = rows.map(_.event_time.getTime).max
      st.update(last)
      st.setTimeoutTimestamp(last + 5000)
      Iterator(Status(k, "seen"))
    }
}
