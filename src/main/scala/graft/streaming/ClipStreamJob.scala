package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Deduplicate, DeduplicateWithinWatermark,
  GlobalLimit, Join}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.operators.{Dedup, Windows}

/** The streaming CEP engine: clip stream -> decode/extract -> watermarked
  * event-time windows -> exactly-once MERGE sink (ClipTable).
  *
  * Re-expresses the reference pipeline fetch->paginate->divide->parse->save
  * (`/root/reference/scrape/scrape.go:306-333`) as a Structured Streaming
  * DAG: the file source replaces fetch (S1/S5; `maxFilesPerTrigger` is the
  * throttle analog of FETCH_DELAY), windows replace the pagination loop
  * (T2), the stateful stream-stream join replaces details-following (J1),
  * and ClipTable.merge replaces the idempotent Mongo upsert (K1/T9).
  */
object ClipStreamJob {

  /** A candidate row's place in the dedup stage's verify: pair index and
    * side ("a" for the pair's smaller id). */
  private case class Slot(_p: Int, _side: String)

  private val NoDataBatches = "spark.sql.streaming.noDataMicroBatches.enabled"

  /** Held by every query start of this object, so the no-data flag that
    * [[runToTable]] sets on the caller's session for one start is never
    * seen by another. */
  private val StartLock = new Object

  /** Starts `writer`, a `writeStream` of `df`. With `noDataBatches` false
    * the query runs no no-data micro-batch: the flag is set on `df`'s
    * session only around `start()` and then restored. Spark clones the
    * session in the query's constructor, inside `start()`, and the query
    * reads the flag from that clone. */
  private def start(df: DataFrame, writer: DataStreamWriter[Row],
                    noDataBatches: Boolean): StreamingQuery = StartLock.synchronized {
    if (noDataBatches) writer.start()
    else {
      val conf = df.sparkSession.conf
      val prev = conf.getOption(NoDataBatches)
      conf.set(NoDataBatches, "false")
      try writer.start()
      finally prev.fold(conf.unset(NoDataBatches))(conf.set(NoDataBatches, _))
    }
  }

  /** True when a no-data micro-batch of `df` can emit nothing: update mode,
    * and every stateful operator of the plan a streaming aggregation.
    * Event-time timers of `flatMapGroupsWithState`/`transformWithState`
    * (and their Python forms) fire in no-data batches, so they keep them;
    * so do deduplication, stream-stream joins and streaming limits. */
  private def skipsNoDataBatches(df: DataFrame, outputMode: String): Boolean =
    outputMode.equalsIgnoreCase("update") && !df.queryExecution.analyzed.exists {
      case j: Join => j.left.isStreaming && j.right.isStreaming
      case p @ (_: Deduplicate | _: DeduplicateWithinWatermark | _: GlobalLimit) => p.isStreaming
      case p => p.nodeName.contains("WithState")
    }

  /** input_hint schema + generated lineage columns. */
  val clipSchema: StructType = StructType(Seq(
    StructField("clip_id", StringType, nullable = false),
    StructField("bytes", BinaryType, nullable = true),
    StructField("sr_hz", IntegerType, nullable = false),
    StructField("dur_ms", IntegerType, nullable = false),
    StructField("codec", StringType, nullable = false),
    StructField("transcript", StringType, nullable = true),
    StructField("person_idx", IntegerType, nullable = false),
    StructField("event_time", TimestampType, nullable = false)))

  val updateSchema: StructType = StructType(Seq(
    StructField("clip_id", StringType, nullable = false),
    StructField("transcript", StringType, nullable = true),
    StructField("update_time", TimestampType, nullable = false)))

  /** Read the clips table as a stream (file source over the Iceberg-style
    * layout). `maxFilesPerTrigger` bounds micro-batch size — the rate
    * throttle (S5). */
  def readClipStream(spark: SparkSession, path: String,
                     maxFilesPerTrigger: Int = 8): DataFrame =
    spark.readStream
      .schema(clipSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(path)
      .drop("p_codec", "p_bucket")

  def readUpdateStream(spark: SparkSession, path: String,
                       maxFilesPerTrigger: Int = 8): DataFrame =
    spark.readStream
      .schema(updateSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(path)

  /** Watermarked tumbling-window aggregation — the same logical plan as the
    * batch query (Windows.tumblingCounts), plus the watermark. */
  def tumblingCounts(clips: DataFrame, watermark: String = "30 seconds"): DataFrame =
    Windows.tumblingCounts(clips.withWatermark("event_time", watermark))

  def sessionCounts(clips: DataFrame, watermark: String = "30 seconds"): DataFrame =
    Windows.sessionCounts(clips.withWatermark("event_time", watermark))

  /** NORMALIZE-ON-INGEST: every clip leaves this stage as pcm16 at
    * `targetHz` (mixed-rate corpus -> one model rate, the c17 operation
    * as a stream stage). The polyphase windowed-sinc kernel
    * (`pcm_resample`) runs in the scan stage like every codec expression
    * — a narrow map, no state, no shuffle; already-normalized clips
    * short-circuit inside the kernel (sr == target re-encodes only).
    * dur_ms is unchanged (resampling preserves duration); sr_hz and
    * codec are rewritten to the post-condition so every downstream
    * consumer (windows keyed on (codec, sr_hz), dedup fingerprints, the
    * sink key) sees the normalized view. */
  def normalizeRate(clips: DataFrame, targetHz: Int = 16000): DataFrame =
    clips
      .withColumn("bytes", graft.functions.GraftFunctions.pcm_resample(
        col("bytes"), col("codec"), col("sr_hz"), lit(targetHz)))
      .withColumn("sr_hz", lit(targetHz))
      .withColumn("codec", lit("pcm16"))

  /** CONTAINER ingest: strip mono WAV containers at the door — rows whose
    * bytes are WAV files (PCM / G.711 format tags) come out as raw codec
    * rows with `codec` / `sr_hz` rewritten from the CONTAINER header, the
    * exact input_hint shape every downstream stage expects; rows that are
    * not unwrappable WAVs pass through untouched (already-raw payloads).
    * A stateless narrow map (wav_unwrap runs in the scan stage), so
    * stream == batch by construction — StreamingParitySpec proves it by
    * wrapping the whole fixture and comparing windows bit-for-bit. */
  def ingestWav(clips: DataFrame): DataFrame = {
    val w = graft.functions.GraftFunctions.wav_unwrap(col("bytes"))
    clips
      .withColumn("_w", w)
      .withColumn("bytes", when(col("_w").isNotNull, col("_w.payload"))
        .otherwise(col("bytes")))
      .withColumn("codec", when(col("_w").isNotNull, col("_w.codec"))
        .otherwise(col("codec")))
      .withColumn("sr_hz", when(col("_w").isNotNull, col("_w.sr_hz"))
        .otherwise(col("sr_hz")))
      .drop("_w")
  }

  /** Stateful stream-stream LEFT OUTER join of the clip stream with the
    * late transcript-update stream (J1 re-expression): equi-join on
    * clip_id, time-bounded so state can be evicted by the watermark.
    * Updates arrive a bounded delay after the clip (generator: +15 s). */
  def joinUpdates(clips: DataFrame, updates: DataFrame,
                  watermark: String = "30 seconds"): DataFrame = {
    val u = updates
      .withColumnRenamed("clip_id", "u_clip_id")
      .withColumnRenamed("transcript", "u_transcript")
      .withWatermark("update_time", watermark)
    clips.withWatermark("event_time", watermark)
      .join(u,
        expr("""clip_id = u_clip_id AND
                update_time >= event_time AND
                update_time <= event_time + interval 60 seconds"""),
        "leftOuter")
      .select(col("clip_id"), col("codec"), col("sr_hz"), col("event_time"),
        coalesce(col("u_transcript"), col("transcript")).as("transcript"),
        col("u_transcript").isNotNull.as("updated"))
  }

  /** EXACT-VERIFY incremental dedup stream: each micro-batch is checked
    * against everything already ingested, and batch rows whose audio
    * near-duplicates an existing clip or an earlier row of the same batch
    * (trim/transcode robust, exact aligned-correlation verified) are
    * DROPPED before the exactly-once MERGE, with unbounded lookback. The
    * sink carries (sr_hz, n_samples, f1, f2) columns written at ingest, so
    * the corpus is never re-decoded.
    *
    * AQE runs every exchange and every broadcast of a plan as a job of its
    * own, so each step keeps to at most one of each; a micro-batch runs at
    * most six jobs:
    *
    *  1. FINGERPRINT (1 job): the batch is fingerprinted and checkpointed
    *     eagerly, which also runs the stateful upstream exactly once. Its
    *     (clip_id, sr_hz, n_samples, f1, f2) rows reach the driver through
    *     an Observation on that same job.
    *  2. CANDIDATES (2 jobs: the probe broadcast and the collect):
    *     [[graft.operators.Dedup.audioCandidatesAgainst]] pairs the sink's
    *     row versions — fingerprint columns only, read with no latest-wins
    *     window and so no shuffle — and the batch rows, as a driver-local
    *     relation, against the broadcast bucketed batch. Sink rows whose id
    *     is in this batch are left out (the replay guard). The pairs are
    *     collected and deduped on the driver; there are at most batch rows
    *     x bucket fan-out of them. An empty sink takes the same path with
    *     the batch rows alone.
    *  3. VERIFY (2 jobs: one shuffle and the collect; only when there are
    *     pairs): each candidate row — every version of a stored id, and the
    *     batch rows — is read once, tagged with the (pair, side) slots it
    *     fills, and shuffled once by pair. Inside that partitioning the
    *     stored versions resolve latest-batch-wins per pair
    *     ([[ClipTable.morDedup]]), each pair is re-checked against the
    *     candidate rule on the RESOLVED fingerprints, and the pairs that
    *     pass are scored by aligned correlation. Batch rows do not resolve:
    *     an id that comes twice in one batch is scored in each of its rows
    *     and drops if either passes. Only candidate rows' bytes are
    *     shuffled; no bytes reach the driver.
    *  4. MERGE (1 job): the surviving batch rows are merged.
    *
    * The raw-version scan is exact: a stored key's resolved row is one of
    * its versions, so every pair the resolved table forms is found, and
    * the re-check drops every pair that only a superseded version formed.
    * The verified pairs, and so the drops, are those of pairing against the
    * resolved table.
    *
    * FIRST ARRIVAL WINS: the corpus end of a pair never drops (it was
    * first); a batch-batch pair drops its larger id. MOR deltas are folded
    * by [[ClipTable.compactIfNeeded]] after each merge, as in
    * [[runToTable]].
    *
    * Replay-safe: a replayed batch re-checks against the table, its
    * survivors re-merge idempotently (same keys, same batch id), and rows
    * it already merged are NOT self-matched (the replay guard).
    *
    * The table must be keyed on `clip_id` alone: the verify resolves
    * stored versions per `clip_id` and carries no other key column. */
  def runDedupedToTable(df: DataFrame, table: ClipTable, checkpointDir: String,
                        trigger: Trigger = Trigger.AvailableNow(),
                        minCorr: Double = 0.8): StreamingQuery = {
    require(table.keyCols == Seq("clip_id"),
      s"runDedupedToTable needs a table keyed on clip_id alone, got ${table.keyCols}")
    val writer = df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        val spark = batch0.sparkSession
        import spark.implicits._
        val fpCols = Seq("clip_id", "sr_hz", "n_samples", "f1", "f2")
        val fpSeen = Observation()
        // the whole row rides as the fingerprint's id; eager, so every
        // reader below (and the stateful upstream) sees one materialization
        val batch = Dedup.audioFingerprints(
            batch0.withColumn("_row", struct(col("*"))), idCol = "_row")
          .select(col("id.*"), col("n").as("n_samples"), col("f1"), col("f2"))
          .observe(fpSeen, collect_list(struct(fpCols.map(col): _*)).as("rows"))
          .localCheckpoint(true)
        val fpRows = fpSeen.get("rows").asInstanceOf[Seq[Row]]
        val batchIds = fpRows.map(_.getString(0)).toSet
        def fp(d: DataFrame) = d.select(col("clip_id").as("id"), col("sr_hz").as("sr"),
          col("n_samples").as("n"), col("f1"), col("f2"))
        // driver-local batch fingerprints: the union side and the probe
        // read no checkpoint block
        val local = fp(spark.createDataFrame(fpRows.asJava, StructType(fpCols.map(batch.schema(_)))))
        val versions = table.readRawOpt(spark)
        // replay guard: rows of THIS batch already in the table must not
        // self-match — exclude them from the corpus side
        val corpus = versions.fold(local.limit(0))(v =>
          fp(v.filter(!col("clip_id").isin(batchIds.toSeq: _*))))
        val pairs = Dedup.audioCandidatesAgainst(corpus, local, distinct = false)
          .as[(String, String)].collect().distinct
        val drops = if (pairs.isEmpty) Set.empty[String] else {
          // each candidate id -> the (pair, side) slots it fills, looked up
          // in a literal map, which also drops every other row: joining a
          // local relation would broadcast it, one more job
          val slots = pairs.toSeq.zipWithIndex
            .flatMap { case ((a, b), p) => Seq(a -> Slot(p, "a"), b -> Slot(p, "b")) }
            .groupMap(_._1)(_._2)
          val (fresh, stored) = slots.partition { case (id, _) => batchIds(id) }
          def tagged(d: DataFrame, slotsOf: Map[String, Seq[Slot]], lineage: Column*) =
            d.select(Seq(inline(element_at(typedLit(slotsOf), col("clip_id"))), col("clip_id"),
              struct(col("clip_id").as("id"), col("sr_hz").as("sr"), col("n_samples").as("n"),
                col("f1"), col("f2"), col("bytes"), col("codec")).as("r")) ++ lineage: _*)
          // stored versions share _ver (null) and resolve latest-batch-wins;
          // each batch row has a _ver of its own and stays, so an id that
          // comes twice in one batch is scored in both rows and drops if
          // either passes. The lineage expressions are the same in every
          // batch, and so is the generated code
          val rows = (if (stored.isEmpty) None
            else versions.map(tagged(_, stored, col("_batch_id"), col("_part_id"),
              lit(null).cast("long").as("_ver")))).toSeq :+
            tagged(batch, fresh, lit(0L).as("_batch_id"), lit(0).as("_part_id"),
              monotonically_increasing_id().as("_ver"))
          def side(s: String) = collect_list(when(col("_side") === s, col("r"))).as(s)
          // the one shuffle: by pair, which the per-pair resolution and the
          // pair aggregate both take as it is
          table.morDedup(rows.reduce(_ unionByName _).repartition(col("_p")),
              within = Seq("_p", "_ver"))
            .groupBy("_p").agg(side("a"), side("b"))
            .select(explode(col("a")).as("a"), col("b"))
            .select(col("a"), explode(col("b")).as("b"))
            .filter(Dedup.audioCandidateRule(c => col(s"a.$c"), c => col(s"b.$c")))
            .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
              col("a.bytes").as("bytes_a"), col("a.codec").as("codec_a"),
              col("b.bytes").as("bytes_b"), col("b.codec").as("codec_b"))
            .filter(Dedup.alignedCorr >= minCorr)
            .select("id_a", "id_b").as[(String, String)].collect()
            // FIRST-ARRIVAL-WINS drop rule: the corpus end of a pair never
            // drops; a batch-batch pair drops its larger id (id_a < id_b)
            .map { case (a, b) => if (batchIds(b)) b else a }.toSet
        }
        table.merge(batch.filter(!col("clip_id").isin(drops.toSeq: _*)), batchId)
        table.compactIfNeeded(spark)
        ()
      }
    start(df, writer, noDataBatches = true)
  }

  /** Run any streaming DataFrame into an exactly-once ClipTable MERGE with
    * checkpoint-resume. Returns the started query.
    *
    * Incremental compaction runs between micro-batches once more than
    * `maxDeltas` MOR deltas accumulate, bounding the reader's latest-wins
    * window on a long-running stream (the Iceberg `rewrite_data_files`
    * maintenance analog). Replay-safe: a batch replayed after its delta
    * was folded re-writes the same rows, and the latest-batch-wins reader
    * resolves base-vs-delta copies of one batch to identical data.
    *
    * NO-DATA BATCHES: an update-mode query whose only stateful operators
    * are streaming aggregations runs no no-data micro-batch (Spark's
    * `noDataMicroBatches.enabled=false`), so a drain ends with its last
    * data trigger (the windows drain's final no-data trigger took 384 ms
    * on a 4-vCPU host). Rows within the watermark delay land as before:
    *  - in update mode an aggregation emits nothing in a no-data batch; it
    *    only evicts state, and the next data batch evicts with the same
    *    watermark;
    *  - the advanced watermark survives a restart in the commit log
    *    (`CommitMetadata.nextBatchWatermarkMs`), so a row behind it after a
    *    restart is dropped as in an uninterrupted run.
    * A row later than the delay can land differently. Spark drops late rows
    * against the previous batch's watermark, so after an idle spell or a
    * restart a late row whose window the last data batch left open is now
    * aggregated, where the no-data batch would have closed the window and
    * the row been dropped. That is what Spark does anyway when such a row
    * comes in the trigger right after the data before it; its watermark
    * contract keeps only the rows within the delay. An idle query also
    * keeps its closed windows in state until its next data batch.
    * Every other query keeps Spark's default: append-mode windows and outer
    * joins emit their last rows in the final no-data batch, and the timers
    * of `flatMapGroupsWithState`/`transformWithState` fire in it
    * ([[skipsNoDataBatches]] has the rule).
    *
    * The flag is set on the caller's session only around `start()` and
    * restored after it; every start of this object holds one lock, so a
    * concurrent start here never sees it (a query started elsewhere on the
    * same session at that moment would). Starting on a cloned session
    * instead would not do: the query would belong to the clone's
    * `StreamingQueryManager`, so listeners on the caller's session
    * (`MetricsListener`, a benchmark's recorder) would never see it. */
  def runToTable(df: DataFrame, table: ClipTable, checkpointDir: String,
                 trigger: Trigger = Trigger.AvailableNow(),
                 outputMode: String = "append",
                 maxDeltas: Int = 16): StreamingQuery = {
    val writer = df.writeStream
      .outputMode(outputMode)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        table.merge(batch, batchId)
        table.compactIfNeeded(batch.sparkSession, maxDeltas)
        ()
      }
    start(df, writer, noDataBatches = !skipsNoDataBatches(df, outputMode))
  }
}
