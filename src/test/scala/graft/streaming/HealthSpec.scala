package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[Errors]] + [[Health]] — the errs taxonomy / healthcheck analogs
  * (r6; VERDICT r5 missing #5). Pins classification of representative
  * failure shapes (including Spark's wrapping layers) and the liveness
  * probes over a real streaming query + sink table. */
class HealthSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("classify: representative failures land in their classes, wrapped or not") {
    import Errors._
    // plan-time validation errors (checkPayload / Actions / DfkFilters)
    assert(classify(new IllegalArgumentException("unknown action: click")) == InvalidSpec)
    assert(classify(intercept[IllegalArgumentException](
      graft.operators.Actions.compile("bogus"))) == InvalidSpec)
    // missing input, raw and Spark-wrapped
    assert(classify(new java.io.FileNotFoundException("/no/such")) == MissingInput)
    val wrapped = new org.apache.spark.SparkException("job aborted",
      new RuntimeException("stage failure",
        new java.io.FileNotFoundException("/gone.parquet")))
    assert(classify(wrapped) == MissingInput)
    val missingPath = intercept[Throwable](
      spark.read.parquet("/definitely/not/here").count())
    assert(classify(missingPath) == MissingInput, missingPath.getClass.toString)
    val badCol = intercept[Throwable](
      Seq(1).toDF("a").select(col("nope")).count())
    assert(classify(badCol) == MissingInput)
    // transient vs exhausted vs internal
    assert(classify(new java.util.concurrent.TimeoutException("t")) == Transient)
    assert(classify(new java.io.IOException("connection reset")) == Transient)
    assert(classify(new java.io.IOException("No space left on device")) ==
      ResourceExhausted)
    assert(classify(new OutOfMemoryError("heap")) == ResourceExhausted)
    assert(classify(new RuntimeException("boom")) == Internal)
    // only Transient is retryable
    assert(Transient.retryable)
    assert(Seq(InvalidSpec, MissingInput, ResourceExhausted, Internal)
      .forall(!_.retryable))
  }

  test("supervise: restarts on Transient failures, rethrows terminal classes at once") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    implicit val ctx = spark.sqlContext
    // flaky sink: first two attempts die with an IOException (Transient),
    // the third completes — supervise must restart from the SAME
    // checkpoint and report the classified trail
    val in = MemoryStream[Int]
    in.addData(1, 2, 3)
    val ckpt = Files.createTempDirectory("sup-ckpt").toString
    val fails = new java.util.concurrent.atomic.AtomicInteger(0)
    def start() = in.toDF().writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        if (fails.getAndIncrement() < 2) throw new java.io.IOException("flaky io")
        b.count(); ()
      }.start()
    val report = ClipStreamJob.supervise(() => start(), maxRestarts = 3)
    assert(report.completed && report.attempts == 3, report.toString)
    assert(report.failures.map(_._1) == Seq(Errors.Transient, Errors.Transient))

    // terminal class: an InvalidSpec failure must NOT be retried
    val in2 = MemoryStream[Int]
    in2.addData(1)
    val ckpt2 = Files.createTempDirectory("sup-ckpt2").toString
    val starts = new java.util.concurrent.atomic.AtomicInteger(0)
    def startBad() = {
      starts.incrementAndGet()
      in2.toDF().writeStream
        .option("checkpointLocation", ckpt2)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (_: DataFrame, _: Long) =>
          if (true) throw new IllegalArgumentException("unknown action: click")
          ()
        }.start()
    }
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      ClipStreamJob.supervise(() => startBad(), maxRestarts = 3))
    assert(starts.get() == 1, s"terminal class was retried ${starts.get()} times")
  }

  test("health probes: Ok while live, Down when stopped, sink failures detected") {
    implicit val ctx = spark.sqlContext
    val dir = Files.createTempDirectory("health")
    val ckpt = dir.resolve("ckpt").toString
    Files.createDirectories(java.nio.file.Paths.get(ckpt))
    val table = ClipTable(dir.resolve("tbl").toString, Seq("k"))
    table.merge(Seq(("a", 1)).toDF("k", "v"), 0)

    val in = MemoryStream[(String, Timestamp)]
    val q = in.toDF().toDF("k", "event_time")
      .withWatermark("event_time", "10 seconds")
      .groupBy(window(col("event_time"), "10 seconds"), col("k"))
      .agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("health_q")
      .outputMode("update").start()
    try {
      in.addData(("a", new Timestamp(1704067200000L)))
      q.processAllAvailable()
      // the sink probe reads the table's snapshot: no Spark job
      val ((status, probes), jobs) =
        TestSpark.jobsStartedBy(Health.check(spark, q, table, ckpt))
      assert(jobs == 0, s"Health.check started $jobs Spark job(s)")
      assert(status == Health.Ok, probes.filterNot(_.ok).toString)
      assert(probes.map(_.name).toSet == Set("query_active", "progress_fresh",
        "watermark_lag", "sink_readable", "checkpoint_writable"))
    } finally q.stop()

    // stopped query -> Down via the query_active probe
    val (downStatus, downProbes) = Health.check(spark, q, table, ckpt)
    assert(downStatus.isInstanceOf[Health.Down], downProbes.toString)
    assert(downProbes.exists(p => p.name == "query_active" && !p.ok))

    // incompatible sink format -> Down via the sink probe, with the
    // failure classified through the taxonomy
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir.resolve("tbl").toString, "_format"), "v0 legacy")
    val (s2, p2) = Health.check(spark, q, table, ckpt)
    assert(s2.isInstanceOf[Health.Down])
    val sinkProbe = p2.find(_.name == "sink_readable").get
    assert(!sinkProbe.ok && sinkProbe.detail.startsWith("InvalidSpec"))
  }
}
