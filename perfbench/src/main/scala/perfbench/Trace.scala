package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** A timed interval at a layer boundary. `parent` is the id of the span
  * that caused it (-1 for a root); `batch` is the micro-batch id or -1. */
final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long,
    batch: Long, attrs: Map[String, Double] = Map.empty)

final case class StageRec(id: Int, name: String, rdds: Seq[String],
    numTasks: Int, taskMs: Long, cpuMs: Double, gcMs: Long, shuffleWrite: Long,
    shuffleRead: Long, submitted: Long, completed: Long)

final case class JobRec(id: Int, start: Long, var end: Long, batch: Long,
    queryId: String, description: String, stageIds: Seq[Int]) {
  def isListing: Boolean = description.startsWith("Listing leaf files")
}

/** In-memory recorder for one traced run: a StreamingQueryListener for
  * trigger progress (durationMs phases, state operators, sources, sink)
  * and a SparkListener for job/stage/task metrics. Jobs are keyed to their
  * micro-batch through the `streaming.sql.batchId` local property Spark
  * sets on every job of a trigger. Nothing here touches engine code. */
final class Recorder extends SparkListener {
  val progress = mutable.ArrayBuffer[StreamingQueryProgress]()
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val stages = mutable.LinkedHashMap[Int, StageRec]()
  /** per-stage shuffle bytes read by each task (for skew) */
  val taskReads = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()

  val queryListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      Recorder.this.synchronized { progress += e.progress }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    jobs(e.jobId) = JobRec(e.jobId, e.time, -1L,
      prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L),
      prop("sql.streaming.queryId").getOrElse(""),
      prop("spark.job.description").getOrElse(""),
      e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null && m.shuffleReadMetrics.totalBytesRead > 0)
      taskReads.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) +=
        m.shuffleReadMetrics.totalBytesRead
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    val m = s.taskMetrics
    stages(s.stageId) = StageRec(s.stageId, s.name, s.rddInfos.map(_.name).toSeq,
      s.numTasks, m.executorRunTime, m.executorCpuTime / 1e6, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      s.submissionTime.getOrElse(0L), s.completionTime.getOrElse(0L))
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.streams.addListener(queryListener)
  }

  def detach(spark: SparkSession): Unit = {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    spark.streams.removeListener(queryListener)
    spark.sparkContext.removeSparkListener(this)
  }
}

/** The triggers of one query run, rebuilt into a span tree and a ledger
  * of per-trigger layer figures. */
final class QueryTrace(rec: Recorder, queryId: String) {
  /** durationMs phases in the order MicroBatchExecution runs them. */
  val PhaseOrder = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
    "addBatch", "commitOffsets")

  val triggers: Seq[StreamingQueryProgress] = rec.synchronized {
    rec.progress.filter(_.id.toString == queryId).sortBy(_.batchId).toSeq
  }
  /** Jobs of this query, each keyed to the trigger whose interval holds its
    * start: jobs a source runs before the trigger's batch id is set (the
    * file source's "Listing leaf files" job in getBatch) carry no or a stale
    * `streaming.sql.batchId`. */
  val jobs: Seq[JobRec] = rec.synchronized {
    val windows = triggers.map(p => (p.batchId, startMs(p), startMs(p) + dur(p, "triggerExecution")))
    rec.jobs.values.filter(j => j.end >= 0 && (j.queryId == queryId || j.queryId.isEmpty))
      .flatMap { j =>
        windows.find { case (_, s, e) => j.start >= s && j.start <= e } match {
          case Some((b, _, _)) => Some(j.copy(batch = b))
          case None => if (j.queryId == queryId) Some(j) else None
        }
      }.toSeq
  }
  def jobsOf(batch: Long): Seq[JobRec] = jobs.filter(_.batch == batch)
  def stagesOf(js: Seq[JobRec]): Seq[StageRec] = rec.synchronized {
    js.flatMap(_.stageIds).distinct.flatMap(rec.stages.get)
  }
  def taskReads(stage: Int): Seq[Long] = rec.synchronized {
    rec.taskReads.get(stage).map(_.toSeq).getOrElse(Nil)
  }

  def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
  def startMs(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli
  def isData(p: StreamingQueryProgress): Boolean = p.numInputRows > 0
  /** A no-data trigger that still ran a batch (watermark advance/eviction). */
  def isNoDataBatch(p: StreamingQueryProgress): Boolean =
    p.numInputRows == 0 && p.durationMs.containsKey("addBatch")

  /** Data triggers after the first (which carries one-time planning/JIT
    * cost); all data triggers when there is only one. */
  lazy val steady: Seq[StreamingQueryProgress] = {
    val d = triggers.filter(isData)
    if (d.length > 1) d.tail else d
  }

  /** Union length of intervals (jobs of one batch may overlap). */
  def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    (total + math.max(0L, curE - curS)).toDouble
  }

  def jobsMs(js: Seq[JobRec]): Double = unionMs(js.map(j => (j.start, j.end)))

  /** Span tree: trigger -> durationMs phases (laid out in run order from the
    * trigger start) -> jobs -> stages. */
  def spans(nextId: () => Int, parent: Int): Seq[Span] = {
    val out = mutable.ArrayBuffer[Span]()
    triggers.foreach { p =>
      val t0 = startMs(p)
      val tid = nextId()
      out += Span(tid, parent, "trigger", t0, t0 + dur(p, "triggerExecution").toLong,
        p.batchId, Map("rows" -> p.numInputRows.toDouble))
      var at = t0
      val phaseIds = mutable.HashMap[String, Int]()
      val keys = PhaseOrder.filter(p.durationMs.containsKey) ++
        p.durationMs.keySet.asScala.toSeq.sorted
          .filterNot(k => PhaseOrder.contains(k) || k == "triggerExecution")
      keys.foreach { k =>
        val id = nextId(); phaseIds(k) = id
        val d = dur(p, k).toLong
        out += Span(id, tid, k, at, at + d, p.batchId)
        at += d
      }
      val js = jobsOf(p.batchId)
      js.foreach { j =>
        val jp = if (j.isListing) phaseIds.getOrElse("getBatch", tid)
          else phaseIds.getOrElse("addBatch", tid)
        val jid = nextId()
        out += Span(jid, jp, if (j.isListing) "job:listing" else "job", j.start, j.end,
          p.batchId, Map("job_id" -> j.id.toDouble))
        stagesOf(Seq(j)).foreach { s =>
          out += Span(nextId(), jid, "stage:" + s.name, s.submitted, s.completed, p.batchId,
            Map("task_ms" -> s.taskMs.toDouble, "cpu_ms" -> s.cpuMs, "gc_ms" -> s.gcMs.toDouble,
              "tasks" -> s.numTasks.toDouble))
        }
      }
    }
    out.toSeq
  }

  /** Share of a trigger covered by its named phase spans. */
  def attributed(p: StreamingQueryProgress): Double = {
    val total = dur(p, "triggerExecution")
    if (total <= 0) 1.0
    else PhaseOrder.map(dur(p, _)).sum / total
  }

  def isScan(s: StageRec): Boolean = s.rdds.exists(_.contains("FileScanRDD"))
  def isState(s: StageRec): Boolean = s.rdds.exists(_.contains("StateStore"))
}

object Stats {
  def median(xs: scala.collection.Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (same rule as numpy's default). */
  def quantile(xs: scala.collection.Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def mean(xs: scala.collection.Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.length
}
