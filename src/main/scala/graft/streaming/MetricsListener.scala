package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Per-batch metrics table (K8/A3 re-expression: the reference's task
  * manifest `{Requests, Responses, Took}`, `/root/reference/scrape/
  * scrape.go:257-268`, becomes a queryable metrics table): one JSONL row
  * per micro-batch with rows, rates, state-store size and watermark lag.
  * The state ledger fields are summed over the trigger's state operators
  * (0 when it has none): `state_commit_ms` (`commitTimeMs`),
  * `state_changelog_commit_ms` (RocksDB's
  * `rocksdbChangeLogWriterCommitLatencyMs`),
  * `rows_dropped_by_watermark` (`numRowsDroppedByWatermark`),
  * `state_load_ms` (RocksDB's `rocksdbLoadLatencyMs`), `state_update_ms`
  * (`allUpdatesTimeMs`) and `state_removal_ms` (`allRemovalsTimeMs`).
  * The code generation fields are JVM-wide, not per query: the classes
  * Janino compiled (`codegen_compiles`, the count of
  * `CodegenMetrics.METRIC_COMPILATION_TIME`) and their compile time
  * (`codegen_compile_ms`, from `CodeGenerator.compileTime`) since this
  * listener's previous line (its creation, for the first line). Progress
  * events reach the listener asynchronously, so compiles of anything else
  * running in the JVM, or of the next trigger, can land on a line.
  * Readable back as a DataFrame via [[MetricsListener.read]].
  */
final class MetricsListener(path: String, promPath: Option[String] = None)
    extends StreamingQueryListener {
  Files.createDirectories(Paths.get(path).getParent)

  private var compilesSeen = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private var compileNanosSeen = CodeGenerator.compileTime

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()

  /** Error-manifest line on abnormal termination (r6; the errs taxonomy's
    * manifest hook — the event carries only the rendered message, not
    * the throwable). Plain-JSONL rows with an `event` field; metric
    * readers filter on num_input_rows > 0 and never see them. */
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = synchronized {
    e.exception.foreach { msg =>
      val esc = msg.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case '\r' => "\\r"
        case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }
      val line = s"""{"query_id":"${e.id}","event":"terminated_with_error",""" +
        s""""error":"$esc"}""" + "\n"
      Files.write(Paths.get(path), line.getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }
  }

  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val stateRows = p.stateOperators.map(_.numRowsTotal).sum
    val stateBytes = p.stateOperators.map(_.memoryUsedBytes).sum
    def custom(key: String): Long = p.stateOperators.map(o =>
      Option(o.customMetrics.get(key)).map(_.longValue).getOrElse(0L)).sum
    val stateCommitMs = p.stateOperators.map(_.commitTimeMs).sum
    val changelogCommitMs = custom("rocksdbChangeLogWriterCommitLatencyMs")
    val droppedByWatermark = p.stateOperators.map(_.numRowsDroppedByWatermark).sum
    val stateLoadMs = custom("rocksdbLoadLatencyMs")
    val stateUpdateMs = p.stateOperators.map(_.allUpdatesTimeMs).sum
    val stateRemovalMs = p.stateOperators.map(_.allRemovalsTimeMs).sum
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileNanos = CodeGenerator.compileTime
    val codegenCompiles = compiles - compilesSeen
    val codegenCompileMs = (compileNanos - compileNanosSeen) / 1000000L
    compilesSeen = compiles
    compileNanosSeen = compileNanos
    val watermark = Option(p.eventTime.get("watermark")).getOrElse("")
    val eventMax = Option(p.eventTime.get("max")).getOrElse("")
    val durations = {
      val it = p.durationMs.entrySet().iterator()
      val sb = new StringBuilder("{")
      var first = true
      while (it.hasNext) {
        val e = it.next()
        if (!first) sb.append(',')
        sb.append('"').append(e.getKey).append("\":").append(e.getValue)
        first = false
      }
      sb.append('}').toString
    }
    val line =
      s"""{"query_id":"${p.id}","batch_id":${p.batchId},""" +
        s""""timestamp":"${p.timestamp}","num_input_rows":${p.numInputRows},""" +
        s""""input_rows_per_sec":${safe(p.inputRowsPerSecond)},""" +
        s""""processed_rows_per_sec":${safe(p.processedRowsPerSecond)},""" +
        s""""state_rows":$stateRows,"state_bytes":$stateBytes,""" +
        s""""durations_ms":$durations,""" +
        s""""watermark":"$watermark","event_time_max":"$eventMax",""" +
        s""""state_commit_ms":$stateCommitMs,""" +
        s""""state_changelog_commit_ms":$changelogCommitMs,""" +
        s""""rows_dropped_by_watermark":$droppedByWatermark,""" +
        s""""state_load_ms":$stateLoadMs,"state_update_ms":$stateUpdateMs,""" +
        s""""state_removal_ms":$stateRemovalMs,""" +
        s""""codegen_compiles":$codegenCompiles,"codegen_compile_ms":$codegenCompileMs}""" + "\n"
    Files.write(Paths.get(path), line.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    promPath.foreach(writeProm(_, p, stateRows, stateBytes, watermark, eventMax))
  }

  /** EXPORTER surface (r6; the reference's Prometheus middleware analog,
    * `/root/reference/parse/metrics.mw.go` + `metrics/prometheus/`): the
    * latest trigger's manifest fields rendered in Prometheus text
    * exposition format to a snapshot file — the materialized equivalent
    * of a /metrics scrape target (this sandbox has no ports; a real
    * deployment serves the same text from an HTTP handler). Written
    * ATOMICALLY (temp + move) so a concurrent scrape never reads a torn
    * snapshot. */
  private def writeProm(prom: String,
      p: org.apache.spark.sql.streaming.StreamingQueryProgress,
      stateRows: Long, stateBytes: Long,
      watermark: String, eventMax: String): Unit = {
    def ms(s: String): Long =
      try java.time.Instant.parse(s).toEpochMilli catch { case _: Exception => 0L }
    val lagMs = if (watermark.isEmpty || eventMax.isEmpty) 0L
      else math.max(0L, ms(eventMax) - ms(watermark))
    val took = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
    val labels = s"""{query_id="${p.id}"}"""
    def gauge(name: String, v: String): String =
      s"# TYPE $name gauge\n$name$labels $v\n"
    val text =
      gauge("graft_batch_id", p.batchId.toString) +
        gauge("graft_input_rows", p.numInputRows.toString) + // manifest Requests
        gauge("graft_sink_rows", p.sink.numOutputRows.toString) + // manifest Responses
        gauge("graft_took_ms", took.toString) + // manifest Took
        gauge("graft_processed_rows_per_sec",
          if (p.processedRowsPerSecond.isNaN || p.processedRowsPerSecond.isInfinite) "0"
          else p.processedRowsPerSecond.toString) +
        gauge("graft_state_rows", stateRows.toString) +
        gauge("graft_state_bytes", stateBytes.toString) +
        gauge("graft_watermark_lag_ms", lagMs.toString)
    val target = Paths.get(prom)
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
    Files.write(tmp, text.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, target, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private def safe(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
}

object MetricsListener {
  def attach(spark: SparkSession, path: String): MetricsListener = {
    val l = new MetricsListener(path)
    spark.streams.addListener(l)
    l
  }

  /** Attach with the Prometheus-snapshot exporter enabled (see
    * [[MetricsListener.writeProm]]): `promPath` is overwritten atomically
    * on every trigger with the latest manifest gauges. */
  def attachWithExporter(spark: SparkSession, path: String,
                         promPath: String): MetricsListener = {
    val l = new MetricsListener(path, Some(promPath))
    spark.streams.addListener(l)
    l
  }

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** Watermark-lag alarms: batches whose event-time watermark trails the
    * maximum event time seen SO FAR by more than `maxLagMs` while input
    * keeps flowing — the ops signal that state eviction (and therefore
    * state size) is falling behind the stream. Lag is measured in event
    * time (not wall clock), so it is meaningful for replayed/synthetic
    * streams too. Returns the offending batches. */
  def watermarkLagAlarms(metrics: DataFrame, maxLagMs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy(col("query_id")).orderBy(col("batch_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    metrics
      .filter(col("watermark") =!= "" && col("event_time_max") =!= "")
      // a 1970 epoch watermark is Spark's "not yet initialized" bootstrap
      // value on a query's first batch, not a lagging watermark
      .filter(unix_millis(to_timestamp(col("watermark"))) > 0)
      .withColumn("max_event_ms",
        max(unix_millis(to_timestamp(col("event_time_max")))).over(w))
      .withColumn("lag_ms",
        col("max_event_ms") - unix_millis(to_timestamp(col("watermark"))))
      .filter(col("num_input_rows") > 0 && col("lag_ms") > maxLagMs)
      .select("batch_id", "watermark", "event_time_max", "lag_ms", "state_rows")
  }
}
