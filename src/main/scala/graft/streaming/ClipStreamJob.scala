package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
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
    * Each micro-batch runs three batch-sized steps, each ending in a
    * driver-side collect, instead of one lazy dedup-and-write plan:
    *
    *  1. FINGERPRINT: the batch is fingerprinted once and checkpointed
    *     eagerly (one job, which also runs the stateful upstream exactly
    *     once); its clip_ids are collected.
    *  2. CANDIDATES: [[graft.operators.Dedup.audioCandidatesAgainst]]
    *     pairs the batch's fingerprints against the sink's fingerprint
    *     columns (no payload bytes) and the pair ids are collected. An
    *     empty table reads schema-less, so the first batch pairs against
    *     the empty slice of itself — the same path, no emptiness job.
    *  3. VERIFY (only when there are pairs): the sink is read back
    *     filtered to the corpus-side candidate ids — a predicate on the MOR
    *     key, which Catalyst pushes below the latest-wins window, so only
    *     candidate rows' bytes are shuffled — and joined with the batch's
    *     candidate rows through the Direct verify (nothing persisted).
    *
    * Every collected set is bounded by the batch: candidate pairs are at
    * most batch rows x bucket fan-out. FIRST ARRIVAL WINS: the corpus end
    * of a pair never drops (it was first); a batch-batch pair drops its
    * larger id. MOR deltas are folded by [[ClipTable.compactIfNeeded]]
    * after each merge, as in [[runToTable]].
    *
    * Replay-safe: a replayed batch re-checks against the table, its
    * survivors re-merge idempotently (same keys, same batch id), and rows
    * it already merged are NOT self-matched (the batch's ids are excluded
    * from the corpus side). */
  def runDedupedToTable(df: DataFrame, table: ClipTable, checkpointDir: String,
                        trigger: Trigger = Trigger.AvailableNow(),
                        minCorr: Double = 0.8): StreamingQuery =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        val spark = batch0.sparkSession
        import spark.implicits._
        // the whole row rides as the fingerprint's id; eager, so every
        // reader below (and the stateful upstream) sees one materialization
        val batch = Dedup.audioFingerprints(
            batch0.withColumn("_row", struct(col("*"))), idCol = "_row")
          .select(col("id.*"), col("n").as("n_samples"), col("f1"), col("f2"))
          .localCheckpoint(true)
        val batchIds = batch.select("clip_id").as[String].collect().toSet
        val existing = table.read(spark)
        // replay guard: rows of THIS batch already in the table must not
        // self-match — exclude them from the corpus side (a local relation:
        // broadcasting it starts no job)
        val corpus =
          if (existing.columns.isEmpty) batch.limit(0)
          else existing.join(broadcast(batchIds.toSeq.toDF("clip_id")), Seq("clip_id"), "left_anti")
        def fp(d: DataFrame) = d.select(col("clip_id").as("id"), col("sr_hz").as("sr"),
          col("n_samples").as("n"), col("f1"), col("f2"))
        val candidates = Dedup.audioCandidatesAgainst(fp(corpus), fp(batch))
        val pairs = candidates.as[(String, String)].collect()
        val drops = if (pairs.isEmpty) Set.empty[String] else {
          val (fresh, stored) = pairs.flatMap(p => Seq(p._1, p._2)).distinct.partition(batchIds)
          def payload(d: DataFrame, ids: Seq[String]) = d.filter(col("clip_id").isin(ids: _*))
            .select(col("clip_id").as("id"), col("bytes"), col("codec"))
          val rows =
            if (stored.isEmpty) payload(batch, fresh)
            else payload(existing, stored).unionByName(payload(batch, fresh))
          Dedup.hydrateVerify(pairs.toSeq.toDF("id_a", "id_b"), rows,
              Dedup.Rehydration.Direct, Dedup.alignedCorr, minCorr)
            .select("id_a", "id_b").as[(String, String)].collect()
            // FIRST-ARRIVAL-WINS drop rule: the corpus end of a pair never
            // drops; a batch-batch pair drops its larger id (id_a < id_b)
            .map { case (a, b) => if (batchIds(b)) b else a }.toSet
        }
        table.merge(batch.filter(!col("clip_id").isin(drops.toSeq: _*)), batchId)
        table.compactIfNeeded(spark)
        ()
      }
      .start()

  /** Run any streaming DataFrame into an exactly-once ClipTable MERGE with
    * checkpoint-resume. Returns the started query.
    *
    * Incremental compaction runs between micro-batches once more than
    * `maxDeltas` MOR deltas accumulate, bounding the reader's latest-wins
    * window on a long-running stream (the Iceberg `rewrite_data_files`
    * maintenance analog). Replay-safe: a batch replayed after its delta
    * was folded re-writes the same rows, and the latest-batch-wins reader
    * resolves base-vs-delta copies of one batch to identical data. */
  def runToTable(df: DataFrame, table: ClipTable, checkpointDir: String,
                 trigger: Trigger = Trigger.AvailableNow(),
                 outputMode: String = "append",
                 maxDeltas: Int = 16): StreamingQuery =
    df.writeStream
      .outputMode(outputMode)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        table.merge(batch, batchId)
        table.compactIfNeeded(batch.sparkSession, maxDeltas)
        ()
      }
      .start()
}
