package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Windowed-aggregation plan builders shared by the batch queries
  * (graft.queries.ClipQueries) and the streaming jobs
  * (graft.streaming.ClipStreamJob) — batch/stream parity by construction:
  * both sides execute the SAME logical plan, the stream just adds a
  * watermark upstream.
  *
  * These re-express the reference's pagination/accumulation semantics
  * (`/root/reference/scrape/scrape.go:378-445`, SURVEY.md §2.11 T2) as
  * event-time windows per the north rule; event time comes precomputed
  * from the generator (dur_ms-accumulated offsets), never computed
  * in-stream, so results are identical at any parallelism.
  */
object Windows {

  /** Tumbling 10 s windows keyed (codec, sr_hz): counts + dur sums. */
  def tumblingCounts(clips: DataFrame): DataFrame =
    clips
      .groupBy(window(col("event_time"), "10 seconds"), col("codec"), col("sr_hz"))
      .agg(count(lit(1)).as("n_clips"), sum(col("dur_ms")).as("sum_dur_ms"))
      .select(unix_millis(col("window.start")).as("w_start_ms"),
        col("codec"), col("sr_hz"), col("n_clips"), col("sum_dur_ms"))

  /** Sliding 10 s / 5 s windows keyed by codec. */
  def slidingCounts(clips: DataFrame): DataFrame =
    clips
      .groupBy(window(col("event_time"), "10 seconds", "5 seconds"), col("codec"))
      .agg(count(lit(1)).as("n_clips"))
      .select(unix_millis(col("window.start")).as("w_start_ms"),
        col("codec"), col("n_clips"))

  /** Session windows (30 s gap) keyed by codec. */
  def sessionCounts(clips: DataFrame): DataFrame =
    clips
      .groupBy(session_window(col("event_time"), "30 seconds"), col("codec"))
      .agg(count(lit(1)).as("n_clips"))
      .select(unix_millis(col("session_window.start")).as("w_start_ms"),
        col("codec"), col("n_clips"))

  /** Golden-row aggregation for the extraction pipeline: per (window,
    * codec) the extracted values in deterministic (clip_id) order — the
    * reference's "single list of combined results ... in (page, block) key
    * order" (`/root/reference/scrape/encoders.go:192-247`, A1/L2)
    * re-expressed with event-time windows; clip_id is the (page, block)
    * ordinal analog. */
  def windowedExtraction(extracted: DataFrame): DataFrame =
    extracted
      .groupBy(window(col("event_time"), "10 seconds"), col("codec"))
      .agg(count(lit(1)).as("n_clips"),
        sort_array(collect_list(struct(col("clip_id"),
          Extraction.encodeUnwrap(col("Name_text")).as("name"),
          Extraction.encodeUnwrap(col("Phones_text")).as("phones"))))
          .as("rows"))
      .select(unix_millis(col("window.start")).as("w_start_ms"),
        col("codec"), col("n_clips"), col("rows"))
}
