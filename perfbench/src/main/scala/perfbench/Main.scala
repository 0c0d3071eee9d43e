package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.GraftSession
import graft.functions.GraftFunctions
import graft.operators.Extraction
import graft.streaming.{ClipStreamJob, ClipTable}

/** Engine benchmark: one workload per invocation, `local[4]` with 8
  * shuffle/state partitions. Untraced runs (`--trace 0`) give the
  * end-to-end metrics; traced runs (`--trace 1`) attach the benchmark's
  * own listeners and give the per-layer ledger. Writes one result JSON
  * (`--out`); run.py adds the host fingerprint and prints it.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --root DIR --out FILE --launch-ms T --paced-files-per-s R --pacer FILE
  */
object Main {
  val Master = "local[4]"
  val ShufflePartitions = 8
  val RepTimeoutMs = 60000L
  /** paced_windows: ProcessingTime trigger interval and clips per file. */
  val PacedIntervalMs = 500L
  val PacedClipsPerFile = 32
  val PacedMaxDeltas = 4
  val PacedGraceMs = 15000L
  val FloatTol = 1e-9

  /** Input shape of a workload: clips per file, files per run, files per
    * trigger, and files of the untimed warm-up pass. The seed's window of
    * `nFiles` pool files is drawn from `poolFiles = 5/4 nFiles`. */
  final case class Shape(clipsPerFile: Int, nFiles: Int, perTrigger: Int, warmFiles: Int,
      twins: Boolean = false, updates: Boolean = false) {
    def poolFiles: Int = nFiles * 5 / 4
  }

  def shapeOf(w: String, seconds: Int, pacedRate: Double): Shape = w match {
    case "drain_windows" => Shape(32, 68, 34, 34)
    case "paced_windows" =>
      Shape(PacedClipsPerFile, math.ceil(pacedRate * seconds).toInt, 64, 10)
    case "join_updates" => Shape(128, 24, 12, 12, updates = true)
    case "dedup_ingest" => Shape(64, 6, 2, 4, twins = true)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  final case class Cfg(workload: String, seed: Long, seconds: Int, trace: Boolean,
      root: Path, out: Path, launchMs: Long, pacedRate: Double, pacer: String)

  /** One timed operation: a drain (closed loop) or a paced schedule. */
  final case class Rep(ok: Boolean, reason: String, wallS: Double, rows: Int,
      latMs: Seq[Double], coverage: Double, files: Int, failedFiles: Int,
      traced: Boolean, layers: Map[String, Double] = Map.empty)

  // ------------------------------------------------------------ pipeline

  /** The flagship windows plan, identical to the frozen bench's pipeline:
    * decode + 32-band filterbank + RMS, selector extraction, watermarked
    * 10 s tumbling windows. */
  def windows(clips: DataFrame): DataFrame = {
    val decoded = clips
      .withColumn("bands",
        GraftFunctions.pcm_band_energies(col("bytes"), col("codec"), col("sr_hz"), 32))
      .withColumn("rms", GraftFunctions.pcm_rms(col("bytes"), col("codec")))
      .withColumn("n_samples", GraftFunctions.pcm_sample_count(col("bytes"), col("codec")))
      .drop("bytes")
    val extracted = Extraction(graft.queries.ClipQueries.cardsSpec)(decoded)
    extracted
      .withWatermark("event_time", "15 minutes")
      .groupBy(window(col("event_time"), "10 seconds"), col("codec"), col("sr_hz"))
      .agg(count(lit(1)).as("n_clips"),
        sum(col("n_samples")).as("sum_samples"),
        avg(col("rms")).as("avg_rms"),
        avg(element_at(col("bands"), 1)).as("avg_low_band"),
        avg(element_at(col("bands"), 32)).as("avg_high_band"),
        sum(col("dur_ms")).as("sum_dur_ms"))
      .select(unix_millis(col("window.start")).as("w_start_ms"),
        col("codec"), col("sr_hz"), col("n_clips"), col("sum_samples"),
        col("avg_rms"), col("avg_low_band"), col("avg_high_band"),
        col("sum_dur_ms"))
  }
  val WinKeys = Seq("w_start_ms", "codec", "sr_hz")
  val WinInts = Seq("n_clips", "sum_samples", "sum_dur_ms")
  val WinFloats = Seq("avg_rms", "avg_low_band", "avg_high_band")

  // ------------------------------------------------------------ helpers

  def session(master: String, work: Path): SparkSession = {
    val s = GraftSession.builder(master, ShufflePartitions, "perfbench")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftFunctions.register(s)
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
  }

  /** batch commit times of a ClipTable: `_commits/batch-N` holds the commit
    * instant. */
  def commitTimes(sink: Path): Map[Long, Double] =
    Gen.listSorted(sink.resolve("_commits")).flatMap { p =>
      val n = p.getFileName.toString
      if (!n.startsWith("batch-")) None
      else {
        val i = java.time.Instant.parse(Files.readString(p).trim)
        Some(n.stripPrefix("batch-").toLong -> (i.getEpochSecond * 1000.0 + i.getNano / 1e6))
      }
    }.toMap

  private val PathRe = "\"path\":\"([^\"]+)\"".r
  private val BatchRe = "\"batchId\":([0-9]+)".r

  /** file name -> micro-batch that consumed it, from the checkpoint's
    * file-source logs (plain and `.compact` entries). */
  def fileBatches(ckpt: Path): Map[String, Long] = {
    val out = mutable.HashMap[String, Long]()
    Gen.listSorted(ckpt.resolve("sources")).foreach { src =>
      Gen.listSorted(src).filterNot(_.getFileName.toString.startsWith(".")).foreach { f =>
        scala.io.Source.fromFile(f.toFile).getLines().foreach { line =>
          for (p <- PathRe.findFirstMatchIn(line); b <- BatchRe.findFirstMatchIn(line)) {
            val name = p.group(1).substring(p.group(1).lastIndexOf('/') + 1)
            out(name) = b.group(1).toLong
          }
        }
      }
    }
    out.toMap
  }

  def await(q: StreamingQuery, timeoutMs: Long): Option[String] = {
    val done = try q.awaitTermination(timeoutMs)
      catch { case NonFatal(e) => return Some("query failed: " + firstLine(e)) }
    if (!done) { q.stop(); Some(s"timeout after ${timeoutMs / 1000} s") }
    else q.exception.map(e => "query failed: " + firstLine(e))
  }

  def firstLine(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse(""))
      .linesIterator.take(1).mkString

  def rssHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Reset VmHWM so the peak covers the timed runs only. */
  def resetRssHwm(): Unit =
    try Files.writeString(Paths.get("/proc/self/clear_refs"), "5")
    catch { case NonFatal(_) => () }

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  // ------------------------------------------------------------ the run

  final class Bench(cfg: Cfg) {
    val shape = shapeOf(cfg.workload, cfg.seconds, cfg.pacedRate)
    val work = cfg.root.resolve("work").resolve(s"${cfg.workload}-s${cfg.seed}-${ProcessHandle.current.pid}")
    val dataRoot = cfg.root.resolve("data")
    var spark: SparkSession = _
    var in: Inputs = _
    var truth: Array[Row] = _
    var repNo = 0
    val spans = mutable.ArrayBuffer[Span]()
    private var spanId = 0
    def nextId(): Int = { spanId += 1; spanId }
    def span[T](name: String, parent: Int = -1)(f: => T): T = {
      val t0 = System.currentTimeMillis()
      try f finally spans += Span(nextId(), parent, name, t0, System.currentTimeMillis(), -1L)
    }

    def freshDir(tag: String): Path = {
      repNo += 1
      val d = work.resolve(f"$tag-$repNo%03d")
      Gen.deleteRecursively(d); Files.createDirectories(d)
      d
    }

    def inputs(spark: SparkSession): Inputs = span("ClipGen.window") {
      Gen.ensure(spark, dataRoot, cfg.workload, cfg.seed, shape.clipsPerFile, shape.nFiles,
        shape.poolFiles, shape.twins, shape.updates)
    }

    /** A small copy (hard links) of the first input files for warm-up. */
    def warmInputs(): Inputs = {
      val d = work.resolve("warm")
      if (!Files.exists(d)) {
        Files.createDirectories(d.resolve("clips"))
        in.files.take(shape.warmFiles).foreach { f =>
          Files.createLink(d.resolve("clips").resolve(f.getFileName), f)
        }
      }
      in.copy(clipsDir = d.resolve("clips"), files = Gen.listSorted(d.resolve("clips")))
    }

    // ---- closed-loop drains

    /** Starts the workload's streaming query over `input`; the windows plan
      * also serves paced_windows' warm-up. */
    def startQuery(input: Inputs, sink: Path, ckpt: Path): (StreamingQuery, ClipTable, String) = {
      val clips = ClipStreamJob.readClipStream(spark, input.clipsDir.toString,
        shape.perTrigger)
      def table(keys: Seq[String]) =
        ClipTable(sink.toString, keys, numBuckets = 4, mergeOnRead = true)
      cfg.workload match {
        case "join_updates" =>
          val upd = ClipStreamJob.readUpdateStream(spark, input.updatesDir.toString, 1000)
          val t = table(Seq("clip_id"))
          (ClipStreamJob.runToTable(ClipStreamJob.joinUpdates(clips, upd), t, ckpt.toString,
            Trigger.AvailableNow(), "append"), t, "ClipStreamJob.runToTable")
        case "dedup_ingest" =>
          val t = table(Seq("clip_id"))
          (ClipStreamJob.runDedupedToTable(clips, t, ckpt.toString, Trigger.AvailableNow()),
            t, "ClipStreamJob.runDedupedToTable")
        case _ =>
          val t = table(WinKeys)
          (ClipStreamJob.runToTable(windows(clips), t, ckpt.toString, Trigger.AvailableNow(),
            "update"), t, "ClipStreamJob.runToTable")
      }
    }

    def drain(input: Inputs, rec: Option[Recorder]): Rep = {
      val dir = freshDir("drain")
      val sink = dir.resolve("sink"); val ckpt = dir.resolve("ckpt")
      rec.foreach(_.attach(spark))
      try {
        val t0 = System.currentTimeMillis()
        val (q, table, entry) = startQuery(input, sink, ckpt)
        val err = await(q, RepTimeoutMs)
        val t1 = System.currentTimeMillis()
        val wallS = (t1 - t0) / 1000.0
        val qSpan = nextId()
        spans += Span(qSpan, -1, entry, t0, t1, -1L, Map("rep" -> repNo.toDouble))
        if (err.isDefined) return Rep(ok = false, err.get, wallS, input.nRows, Nil, 0, input.files.length,
          input.files.length, rec.isDefined)
        val commits = commitTimes(sink)
        val fb = fileBatches(ckpt)
        val lat = input.files.flatMap(f => fb.get(f.getFileName.toString).flatMap(commits.get))
          .map(_ - t0)
        val missing = input.files.length - lat.length
        val (problem, coverage) = span("ClipTable.read+check", qSpan)(checkDrain(table, sink))
        val layers = rec.map(r => drainLayers(r, q.id.toString, table, sink, ckpt, input, qSpan) +
          ("ClipTable.read_ms" -> timeRead(table, qSpan))).getOrElse(Map.empty)
        val reason = (if (missing > 0) Seq(s"$missing input files never committed") else Nil) ++ problem
        Rep(reason.isEmpty, reason.mkString("; "), wallS, input.nRows, lat, coverage,
          input.files.length, if (reason.isEmpty) 0 else input.files.length, rec.isDefined, layers)
      } catch {
        case NonFatal(e) => Rep(ok = false, "threw: " + firstLine(e), 0, input.nRows, Nil, 0,
          input.files.length, input.files.length, rec.isDefined)
      } finally {
        rec.foreach(_.detach(spark))
        Gen.deleteRecursively(dir)
      }
    }

    /** Output check of one run; returns (problems, coverage). */
    def checkDrain(table: ClipTable, sink: Path): (Seq[String], Double) = cfg.workload match {
      case "join_updates" => checkJoin(table, sink)
      case "dedup_ingest" =>
        val kept = table.read(spark).select("clip_id").collect().map(_.getString(0)).toSet
        val extra = kept -- in.originalIds
        val lost = in.originalIds -- kept
        val p = (if (extra.nonEmpty) Seq(s"${extra.size} twins kept (e.g. ${extra.head})") else Nil) ++
          (if (lost.nonEmpty) Seq(s"${lost.size} originals dropped (e.g. ${lost.head})") else Nil)
        (p, kept.size.toDouble / in.originalIds.size)
      case _ =>
        val got = table.read(spark).select((WinKeys ++ WinInts ++ WinFloats).map(col): _*).collect()
        (compareWindows(got, truth), got.length.toDouble / truth.length)
    }

    def checkJoin(table: ClipTable, sink: Path): (Seq[String], Double) = {
      val compacted = Gen.listSorted(sink).exists(_.getFileName.toString.startsWith("compacted-v"))
      // every row the stream emitted, before latest-wins resolution
      val raw = if (compacted) table.read(spark) else spark.read.parquet(sink.resolve("delta").toString)
      val rows = raw.select("clip_id", "updated", "transcript").collect()
      val counts = rows.groupBy(_.getString(0)).map { case (k, v) => k -> v.length }
      val dups = counts.count(_._2 > 1)
      val upd = spark.read.parquet(in.updatesDir.toString).select("clip_id", "transcript")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val byId = rows.map(r => r.getString(0) -> r).toMap
      val missing = upd.count { case (id, t) =>
        byId.get(id).forall(r => !r.getBoolean(1) || r.getString(2) != t) }
      val unknown = counts.keys.count(id => !in.originalIds.contains(id))
      val p = (if (dups > 0) Seq(s"$dups duplicate clip_id rows") else Nil) ++
        (if (missing > 0) Seq(s"$missing of ${upd.size} updates missing from the sink") else Nil) ++
        (if (unknown > 0) Seq(s"$unknown sink ids not in the input") else Nil)
      (p, counts.size.toDouble / in.nClips)
    }

    def compareWindows(got: Array[Row], want: Array[Row]): Seq[String] = {
      def key(r: Row) = (r.getLong(0), r.getString(1), r.getInt(2))
      val g = got.map(r => key(r) -> r).toMap
      val w = want.map(r => key(r) -> r).toMap
      val out = mutable.ArrayBuffer[String]()
      if (g.size != got.length) out += s"${got.length - g.size} duplicate window keys in the sink"
      val missing = w.keySet -- g.keySet; val extra = g.keySet -- w.keySet
      if (missing.nonEmpty) out += s"${missing.size} windows missing (e.g. ${missing.head})"
      if (extra.nonEmpty) out += s"${extra.size} unexpected windows (e.g. ${extra.head})"
      var intBad = 0; var floatBad = 0
      w.foreach { case (k, wr) => g.get(k).foreach { gr =>
        if ((3 until 6).exists(i => gr.getLong(i) != wr.getLong(i))) intBad += 1
        if ((6 until 9).exists { i =>
          val a = gr.getDouble(i); val b = wr.getDouble(i)
          math.abs(a - b) > FloatTol * math.max(1.0, math.max(math.abs(a), math.abs(b)))
        }) floatBad += 1
      } }
      if (intBad > 0) out += s"$intBad windows with wrong integer columns"
      if (floatBad > 0) out += s"$floatBad windows with float columns off by more than $FloatTol (relative)"
      out.toSeq
    }

    // ---- open loop

    def paced(rec: Option[Recorder]): Rep = {
      val dir = freshDir("paced")
      val sink = dir.resolve("sink"); val ckpt = dir.resolve("ckpt")
      val watch = dir.resolve("watch"); val staging = dir.resolve("staging")
      Files.createDirectories(watch); Files.createDirectories(staging)
      in.files.foreach(f => Files.createLink(staging.resolve(f.getFileName), f))
      val log = dir.resolve("pacer.jsonl")
      rec.foreach(_.attach(spark))
      var proc: Process = null
      try {
        val table = ClipTable(sink.toString, WinKeys, numBuckets = 4, mergeOnRead = true)
        val clips = ClipStreamJob.readClipStream(spark, watch.toString, shape.perTrigger)
        val q = ClipStreamJob.runToTable(windows(clips), table, ckpt.toString,
          Trigger.ProcessingTime(PacedIntervalMs), "update", maxDeltas = PacedMaxDeltas)
        val start = System.currentTimeMillis() + 1000L
        proc = new ProcessBuilder("python3", cfg.pacer, "--staging", staging.toString,
          "--watch", watch.toString, "--rate", cfg.pacedRate.toString,
          "--start-ms", start.toString, "--log", log.toString,
          "--parent", ProcessHandle.current.pid.toString)
          .redirectErrorStream(true).redirectOutput(dir.resolve("pacer.out").toFile).start()
        val scheduleMs = (in.files.length / cfg.pacedRate * 1000).toLong
        val exited = proc.waitFor(scheduleMs + 30000L, java.util.concurrent.TimeUnit.MILLISECONDS)
        if (!exited) { proc.destroyForcibly(); proc.waitFor() }
        val pacerEnd = System.currentTimeMillis()
        val entries = scala.io.Source.fromFile(log.toFile).getLines().map { l =>
          val f = "\"file\": \"([^\"]+)\"".r.findFirstMatchIn(l).get.group(1)
          def num(k: String) = ("\"" + k + "\": ([0-9.]+)").r.findFirstMatchIn(l).get.group(1).toDouble
          (f, num("due_ms"), num("actual_ms"))
        }.toIndexedSeq
        // drain grace: wait until every published file is committed
        val deadline = System.currentTimeMillis() + PacedGraceMs
        def committedFiles(): Int = {
          val c = commitTimes(sink); val fb = fileBatches(ckpt)
          entries.count(e => fb.get(e._1).exists(c.contains))
        }
        while (committedFiles() < entries.length && System.currentTimeMillis() < deadline &&
               q.isActive) Thread.sleep(100)
        q.stop()
        val err = q.exception.map(e => "query failed: " + firstLine(e))
        val qSpan = nextId()
        spans += Span(qSpan, -1, "ClipStreamJob.runToTable", start, System.currentTimeMillis(),
          -1L, Map("rep" -> repNo.toDouble))
        val commits = commitTimes(sink); val fb = fileBatches(ckpt)
        val lat = entries.flatMap { case (f, due, _) => fb.get(f).flatMap(commits.get).map(_ - due) }
        val late = entries.map(e => e._3 - e._2)
        val failedFiles = in.files.length - lat.length
        // backlog = published but not yet committed, sampled at each commit
        val commitOf = entries.map { case (f, _, _) => fb.get(f).flatMap(commits.get) }
        def backlogAt(t: Double) = entries.indices.count(i =>
          entries(i)._3 <= t && commitOf(i).forall(_ > t))
        val lastPublish = if (entries.isEmpty) 0.0 else entries.map(_._3).max
        val backlogEnd = backlogAt(lastPublish)
        val firstHalf = commits.values.filter(_ <= start + (lastPublish - start) / 2)
          .map(backlogAt).foldLeft(0)(math.max)
        val perTrigger = if (fb.isEmpty) 0 else fb.groupBy(_._2).values.map(_.size).max
        val problems = mutable.ArrayBuffer[String]()
        err.foreach(problems += _)
        if (!exited) problems += "generator did not finish"
        if (entries.length != in.files.length) problems += s"generator published ${entries.length} of ${in.files.length} files"
        if (failedFiles > 0) problems += s"$failedFiles files not committed within ${PacedGraceMs / 1000} s grace"
        if (late.nonEmpty && late.max > PacedIntervalMs) problems += f"generator fell behind by ${late.max}%.0f ms (> one trigger)"
        if (backlogEnd > firstHalf + math.max(perTrigger, 1))
          problems += s"backlog grew: $firstHalf files in the first half, $backlogEnd at the end"
        val (chk, coverage) =
          if (err.isDefined) (Nil, 0.0)
          else span("ClipTable.read+check", qSpan)(checkDrain(table, sink))
        problems ++= chk
        val firstDue = if (entries.isEmpty) start.toDouble else entries.map(_._2).min
        val lastCommit = if (commits.isEmpty) pacerEnd.toDouble else commits.values.max
        val layers = rec.map(r => drainLayers(r, q.id.toString, table, sink, ckpt, in, qSpan) ++ Map(
          "ClipTable.read_ms" -> timeRead(table, qSpan),
          "source.backlog_files_end" -> backlogEnd.toDouble,
          "generator.late_ms_p95" -> Stats.quantile(late, 0.95),
          "generator.late_ms_max" -> (if (late.isEmpty) 0.0 else late.max))).getOrElse(Map.empty)
        Rep(problems.isEmpty, problems.mkString("; "), (lastCommit - firstDue) / 1000.0,
          in.nRows, lat, coverage, in.files.length,
          if (chk.nonEmpty || err.isDefined) in.files.length else failedFiles, rec.isDefined, layers)
      } catch {
        case NonFatal(e) => Rep(ok = false, "threw: " + firstLine(e), 0, in.nRows, Nil, 0,
          in.files.length, in.files.length, rec.isDefined)
      } finally {
        if (proc != null && proc.isAlive) { proc.destroyForcibly(); proc.waitFor() }
        spark.streams.active.foreach(_.stop())
        rec.foreach(_.detach(spark))
        Gen.deleteRecursively(dir)
      }
    }

    /** Full merge-on-read scan of the sink, as a count. */
    def timeRead(table: ClipTable, parent: Int): Double = {
      val t0 = System.currentTimeMillis()
      span("ClipTable.read", parent)(table.read(spark).count())
      (System.currentTimeMillis() - t0).toDouble
    }

    // ---- per-layer ledger of one traced query

    def drainLayers(rec: Recorder, queryId: String, table: ClipTable, sink: Path, ckpt: Path,
                    input: Inputs, parent: Int): Map[String, Double] = {
      org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
      val qt = new QueryTrace(rec, queryId)
      spans ++= qt.spans(() => nextId(), parent)
      val steady = qt.steady
      def med(f: org.apache.spark.sql.streaming.StreamingQueryProgress => Double) =
        Stats.median(steady.map(f))
      val fb = fileBatches(ckpt)
      val filesOf = fb.groupBy(_._2).map { case (b, m) => b -> m.keys.toSeq }
      val sizeOf = input.files.map(f => f.getFileName.toString -> Files.size(f)).toMap
      def stagesOf(p: org.apache.spark.sql.streaming.StreamingQueryProgress) =
        qt.stagesOf(qt.jobsOf(p.batchId))
      def scan(p: org.apache.spark.sql.streaming.StreamingQueryProgress) = stagesOf(p).filter(qt.isScan)
      def state(p: org.apache.spark.sql.streaming.StreamingQueryProgress) = stagesOf(p).filter(qt.isState)
      def ops(p: org.apache.spark.sql.streaming.StreamingQueryProgress) = p.stateOperators.toSeq
      val steadyRows = steady.map(_.numInputRows.toDouble).sum
      val scanCpuS = steady.map(p => scan(p).map(_.cpuMs).sum).sum / 1000.0
      // shuffle skew: max / median task read of the largest shuffle-reading stage
      val skews = steady.flatMap { p =>
        val st = stagesOf(p).filter(_.shuffleRead > 0)
        if (st.isEmpty) None else {
          val reads = qt.taskReads(st.maxBy(_.shuffleRead).id).map(_.toDouble)
          if (reads.isEmpty) None else Some(reads.max / math.max(1.0, Stats.median(reads)))
        }
      }
      // runToTable compacts after the batch's commit marker, inside addBatch:
      // a compaction's time is addBatch's end minus that batch's commit
      // instant, for the trigger whose tail holds the compacted dir's mtime
      val commits = commitTimes(sink)
      val compactedAt = Gen.listSorted(sink).filter(_.getFileName.toString.startsWith("compacted-v"))
        .map(d => Files.getLastModifiedTime(d).toMillis.toDouble)
      val compactions = compactedAt.length
      val compactMs = qt.triggers.flatMap { p =>
        val end = qt.startMs(p) + qt.PhaseOrder.takeWhile(_ != "commitOffsets").map(qt.dur(p, _)).sum
        commits.get(p.batchId).filter(c => compactedAt.exists(t => t >= c && t <= end + 1000))
          .map(end - _)
      }
      val deltas = Gen.listSorted(sink.resolve("delta"))
      val dataTriggers = qt.triggers.filter(qt.isData)
      val noData = qt.triggers.filter(qt.isNoDataBatch)
      val dedup = cfg.workload == "dedup_ingest"
      val m = mutable.LinkedHashMap[String, Double](
        "source.latest_offset_ms" -> med(qt.dur(_, "latestOffset")),
        "source.get_batch_ms" -> med(qt.dur(_, "getBatch")),
        "source.listing_jobs" -> Stats.mean(steady.map(p => qt.jobsOf(p.batchId).count(_.isListing).toDouble)),
        "source.files_per_trigger" -> med(p => filesOf.getOrElse(p.batchId, Nil).size.toDouble),
        "source.bytes_per_trigger" -> med(p => filesOf.getOrElse(p.batchId, Nil).map(sizeOf.getOrElse(_, 0L)).sum.toDouble),
        "source.backlog_files_end" -> (input.files.length - fb.keySet.count(sizeOf.contains)).toDouble,
        "plans.query_planning_ms" -> med(qt.dur(_, "queryPlanning")),
        "functions.scan_task_ms" -> med(p => scan(p).map(_.taskMs.toDouble).sum),
        "functions.scan_cpu_ms" -> med(p => scan(p).map(_.cpuMs).sum),
        "functions.scan_gc_ms" -> med(p => scan(p).map(_.gcMs.toDouble).sum),
        "functions.clips_per_cpu_s" -> (if (scanCpuS > 0) steadyRows / scanCpuS else 0.0),
        "state.commit_ms" -> med(ops(_).map(_.commitTimeMs.toDouble).sum),
        "state.update_ms" -> med(ops(_).map(_.allUpdatesTimeMs.toDouble).sum),
        "state.removal_ms" -> med(ops(_).map(_.allRemovalsTimeMs.toDouble).sum),
        "state.rows_total" -> qt.triggers.map(ops(_).map(_.numRowsTotal.toDouble).sum).foldLeft(0.0)(math.max),
        "state.memory_bytes" -> qt.triggers.map(ops(_).map(_.memoryUsedBytes.toDouble).sum).foldLeft(0.0)(math.max),
        "state.rows_dropped_by_watermark" -> qt.triggers.map(ops(_).map(_.numRowsDroppedByWatermark.toDouble).sum).sum,
        "state.stage_task_ms" -> med(p => state(p).map(_.taskMs.toDouble).sum),
        "state.stage_cpu_ms" -> med(p => state(p).map(_.cpuMs).sum),
        "state.stage_wait_ms" -> med(p => state(p).map(s => s.taskMs - s.cpuMs).sum),
        "shuffle.write_bytes" -> med(p => stagesOf(p).map(_.shuffleWrite.toDouble).sum),
        "shuffle.read_bytes" -> med(p => stagesOf(p).map(_.shuffleRead.toDouble).sum),
        "shuffle.read_skew" -> (if (skews.isEmpty) 0.0 else Stats.median(skews)),
        "ClipTable.add_batch_self_ms" -> med(p => qt.dur(p, "addBatch") -
          qt.jobsMs(qt.jobsOf(p.batchId).filterNot(_.isListing))),
        "ClipTable.delta_bytes" -> (if (deltas.isEmpty) 0.0 else Stats.median(deltas.map(Gen.sizeOf(_).toDouble))),
        "ClipTable.delta_files" -> (if (deltas.isEmpty) 0.0 else Stats.median(deltas.map(d =>
          Gen.listSorted(d).count(_.getFileName.toString.endsWith(".parquet")).toDouble))),
        "ClipTable.compactions" -> compactions.toDouble,
        "ClipTable.compact_ms" -> (if (compactMs.isEmpty) 0.0 else Stats.median(compactMs)),
        "checkpoint.wal_ms" -> med(qt.dur(_, "walCommit")),
        "checkpoint.commit_offsets_ms" -> med(qt.dur(_, "commitOffsets")),
        "trigger.ms_p50" -> med(qt.dur(_, "triggerExecution")),
        "trigger.ms_p95" -> Stats.quantile(steady.map(qt.dur(_, "triggerExecution")), 0.95),
        "trigger.no_data_ms" -> (if (noData.isEmpty) 0.0 else Stats.median(noData.map(qt.dur(_, "triggerExecution")))),
        "trigger.jobs" -> med(p => qt.jobsOf(p.batchId).size.toDouble),
        "trigger.attributed_ratio" -> (if (steady.isEmpty) 0.0 else steady.map(qt.attributed).min))
      val dedupKeys = Seq("Dedup.batch_ms_first", "Dedup.batch_ms_last", "Dedup.batch_ms_growth",
        "Dedup.jobs_per_batch", "Dedup.sink_rows_scanned_per_batch", "Dedup.rows_dropped",
        "Dedup.drop_precision", "Dedup.drop_recall")
      // the Dedup layer runs only in dedup_ingest; elsewhere it does no work
      if (!dedup) m ++= dedupKeys.map(_ -> 0.0)
      else {
        val addMs = dataTriggers.map(qt.dur(_, "addBatch"))
        val perBatch = table.read(spark).groupBy("_batch_id").count().collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val scanned = dataTriggers.map(p => perBatch.filter(_._1 < p.batchId).values.sum.toDouble)
        val kept = perBatch.values.sum
        val keptIds = table.read(spark).select("clip_id").collect().map(_.getString(0)).toSet
        val dropped = in.allIds -- keptIds
        val tp = (dropped intersect in.twinIds).size.toDouble
        m ++= Seq(
          "Dedup.batch_ms_first" -> addMs.headOption.getOrElse(0.0),
          "Dedup.batch_ms_last" -> addMs.lastOption.getOrElse(0.0),
          "Dedup.batch_ms_growth" -> (if (addMs.isEmpty) 0.0 else addMs.last / addMs.head),
          "Dedup.jobs_per_batch" -> Stats.median(dataTriggers.map(p => qt.jobsOf(p.batchId).size.toDouble)),
          "Dedup.sink_rows_scanned_per_batch" -> Stats.mean(scanned),
          "Dedup.rows_dropped" -> (input.nRows - kept).toDouble,
          "Dedup.drop_precision" -> (if (dropped.isEmpty) 0.0 else tp / dropped.size),
          "Dedup.drop_recall" -> (if (in.twinIds.isEmpty) 0.0 else tp / in.twinIds.size))
      }
      m.toMap
    }

    // ---- driver

    def runOnce(rec: Option[Recorder]): Rep = {
      Gen.warmPageCache(Seq(in.clipsDir, in.updatesDir))
      if (cfg.workload == "paced_windows") paced(rec) else drain(in, rec)
    }

    /** Untimed warm-up pass: the workload's query over its first
      * `warmFiles` input files, stopped once their last batch has committed. */
    def warmUp(): Unit = {
      val d = freshDir("warm")
      try {
        val (q, table, _) = startQuery(warmInputs(), d.resolve("sink"), d.resolve("ckpt"))
        val last = (shape.warmFiles - 1) / shape.perTrigger.toLong
        val deadline = System.currentTimeMillis() + RepTimeoutMs
        while (!table.committed(last) && q.isActive && System.currentTimeMillis() < deadline)
          Thread.sleep(20)
        q.stop()
        if (!table.committed(last))
          throw new RuntimeException("warm-up did not commit: " +
            q.exception.map(firstLine).getOrElse("timeout"))
      } finally Gen.deleteRecursively(d)
    }

    def run(): Map[String, Any] = {
      val mainMs = System.currentTimeMillis()
      Gen.deleteRecursively(work)
      Files.createDirectories(work)
      // set-up: JVM start, session and an untimed warm-up pass; input
      // generation (cached per seed) is excluded
      val t0s = System.nanoTime()
      spark = session(Master, work)
      val g0 = System.nanoTime()
      in = inputs(spark)
      Gen.warmPageCache(Seq(in.clipsDir, in.updatesDir))
      val genS = (System.nanoTime() - g0) / 1e9
      warmUp()
      val jvmBootS = math.max(0.0, (mainMs - cfg.launchMs) / 1000.0)
      val setupS = jvmBootS + (System.nanoTime() - t0s) / 1e9 - genS
      // ground truth for the windows workloads: the same plan as a batch job
      if (cfg.workload.endsWith("_windows"))
        truth = span("truth") {
          windows(spark.read.schema(ClipStreamJob.clipSchema).parquet(in.clipsDir.toString))
            .select((WinKeys ++ WinInts ++ WinFloats).map(col): _*).collect()
        }

      resetRssHwm()
      val gc0 = gcMs()
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      val reps = mutable.ArrayBuffer[Rep]()
      val paced = cfg.workload == "paced_windows"
      val drain = cfg.workload == "drain_windows"
      // traced runs alternate untraced/traced reps in ABBA order
      val minReps = if (cfg.trace) (if (paced) 2 else 4) else if (paced) 1 else if (drain) 3 else 2
      while (reps.length < minReps || (elapsed < cfg.seconds && !paced && !cfg.trace)) {
        val rec = if (cfg.trace && Set(1, 2).contains(reps.length % 4)) Some(new Recorder) else None
        reps += runOnce(rec)
      }
      val timedS = elapsed
      val peakRss = rssHwmMb()
      val gcTimed = gcMs() - gc0
      val untraced = reps.filterNot(_.traced)
      val traced = reps.filter(_.traced)

      val metrics = mutable.LinkedHashMap[String, Any]()
      val samples = mutable.LinkedHashMap[String, Any]()
      val okU = untraced.filter(_.ok)
      if (!cfg.trace) {
        val thr = okU.map(r => r.rows / r.wallS)
        val lat = okU.flatMap(_.latMs)
        metrics("setup_s") = setupS
        metrics("clips_per_s") = if (thr.isEmpty) null else Stats.median(thr)
        metrics("emit_latency_p50_ms") = if (lat.isEmpty) null else Stats.quantile(lat, 0.5)
        metrics("emit_latency_p95_ms") = if (lat.isEmpty) null else Stats.quantile(lat, 0.95)
        metrics("join_coverage") = if (okU.isEmpty) null else Stats.median(okU.map(_.coverage))
        metrics("peak_rss_mb") = peakRss
        samples("setup_s") = Map("n" -> 1, "jvm_boot_s" -> jvmBootS)
        samples("clips_per_s") = Map("n" -> thr.length, "values" -> thr.toSeq,
          "p_max" -> (if (thr.length >= 11) Stats.quantile(thr, 1 - 10.0 / thr.length) else null))
        samples("emit_latency_ms") = Map("n" -> lat.length,
          "p95_has_10_beyond" -> (lat.length >= 200))
      } else {
        val layers = traced.filter(_.ok).map(_.layers)
        val keys = layers.flatMap(_.keys).distinct
        keys.foreach { k =>
          val vs = layers.flatMap(_.get(k)).filterNot(_.isNaN)
          metrics(k) = if (vs.isEmpty) 0.0 else Stats.median(vs)
        }
        val tOk = traced.filter(_.ok)
        metrics("bench.tracing_overhead") =
          if (okU.isEmpty || tOk.isEmpty) null
          else if (paced) Stats.median(tOk.flatMap(_.latMs)) / Stats.median(okU.flatMap(_.latMs))
          else Stats.median(tOk.map(_.wallS)) / Stats.median(okU.map(_.wallS))
        metrics("jvm.gc_ms") = gcTimed.toDouble / reps.length
        metrics("jvm.heap_max_mb") = Runtime.getRuntime.maxMemory / (1024.0 * 1024.0)
        if (!paced) {
          metrics("generator.late_ms_p95") = 0.0
          metrics("generator.late_ms_max") = 0.0
        }
        metrics("functions.clips_per_s_local1") =
          if (cfg.workload == "drain_windows") local1() else 0.0
      }
      val failures = reps.filterNot(_.ok).map(_.reason)
      val attempted = if (paced) reps.map(_.files).sum else reps.length
      val failed = if (paced) reps.map(_.failedFiles).sum else failures.length
      writeSpans()
      stop(spark)
      Map("correct" -> failures.isEmpty, "attempted" -> attempted, "failed" -> failed,
        "ops_failed_ratio" -> failed.toDouble / math.max(1, attempted),
        "failures" -> failures.toSeq, "metrics" -> metrics.toMap,
        "samples" -> samples.toMap,
        "run" -> Map("workload" -> cfg.workload, "seed" -> cfg.seed, "trace" -> cfg.trace,
          "master" -> Master, "shuffle_partitions" -> ShufflePartitions,
          "jvm_heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024.0 * 1024.0),
          "clips" -> in.nClips, "rows" -> in.nRows, "files" -> in.files.length,
          "files_per_trigger" -> shape.perTrigger, "first_clip_index" -> in.firstIndex,
          "generate_s" -> genS, "timed_s" -> timedS, "reps" -> reps.length,
          "rep_wall_s" -> reps.map(_.wallS).toSeq,
          "rep_traced" -> reps.map(_.traced).toSeq))
    }

    /** Single-threaded baseline of the same drain (traced run only). */
    def local1(): Double = {
      stop(spark)
      spark = session("local[1]", work)
      warmUp()
      val r = runOnce(None)
      if (!r.ok) throw new RuntimeException("local[1] baseline: " + r.reason)
      r.rows / r.wallS
    }

    def writeSpans(): Unit = {
      val p = cfg.out.resolveSibling(cfg.out.getFileName.toString.stripSuffix(".json") + ".spans.jsonl")
      val sb = new StringBuilder
      spans.foreach { s =>
        sb.append(Json.render(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "start_ms" -> s.start, "end_ms" -> s.end, "batch" -> s.batch, "attrs" -> s.attrs))).append('\n')
      }
      Files.writeString(p, sb.toString)
    }
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val cfg = Cfg(a("workload"), a("seed").toLong, a("seconds").toInt, a("trace") == "1",
      Paths.get(a("root")), Paths.get(a("out")), a("launch-ms").toLong,
      a("paced-files-per-s").toDouble, a("pacer"))
    shapeOf(cfg.workload, cfg.seconds, cfg.pacedRate) // reject unknown names early
    val bench = new Bench(cfg)
    val result = try bench.run() catch {
      case NonFatal(e) =>
        Map("correct" -> false, "attempted" -> 1, "failed" -> 1, "ops_failed_ratio" -> 1.0,
          "failures" -> Seq("threw: " + firstLine(e)), "metrics" -> Map.empty[String, Any])
    }
    Files.createDirectories(cfg.out.getParent)
    Files.writeString(cfg.out, Json.render(result) + "\n")
    try Gen.deleteRecursively(bench.work) catch { case NonFatal(_) => () }
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(render).mkString("[", ",", "]")
    case o => render(o.toString)
  }
}
