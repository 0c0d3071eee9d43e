package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.fixtures.MixedAudioGen
import graft.functions.GraftFunctions._

/** CONTAINERED-audio queries over the mixed WAV/FLAC/MP3/Ogg-Opus table
  * (MixedAudioGen) — the audio analog of the i2/v2 compressed-metadata
  * surface: a real corpus's audio column arrives in containers, and the
  * engine must read rate/channels/depth/length from the bytes (a1) and
  * route WAV payloads into the raw-codec pipeline (a2). Ground truth is
  * planted by id arithmetic; the oracle states it from the id. */
object AudioContainerQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Library-free container metadata across all four formats.
    "a1_audio_meta" -> ((s, dir) => {
      MixedAudioGen.read(s, dir)
        .select(col("audio_id"), audio_meta(col("bytes")).as("m"))
        .select(col("audio_id"), col("m.format").as("format"),
          col("m.sr_hz").as("sr_hz"), col("m.channels").as("channels"),
          col("m.bits").as("bits"), col("m.n_samples").as("n_samples"))
        .orderBy("audio_id")
    }),

    // WAV ingest: unwrap mono WAVs (PCM / G.711 tags) to raw codec bytes
    // and run a real pcm_* kernel over the payload — container in, the
    // engine's own pipeline out. Stereo WAVs and the compressed formats
    // are null (unwrap is mono-by-contract) and filtered.
    "a2_wav_ingest" -> ((s, dir) => {
      MixedAudioGen.read(s, dir)
        .select(col("audio_id"), wav_unwrap(col("bytes")).as("w"))
        .filter(col("w").isNotNull)
        .select(col("audio_id"), col("w.codec").as("codec"),
          col("w.sr_hz").as("sr_hz"),
          pcm_sample_count(col("w.payload"), col("w.codec")).as("n_samples"))
        .orderBy("audio_id")
    }))

  def oracleSqlFor(sf: String): Map[String, String] = Map(
    // The planting rule, restated: idx%4 picks the format, q=idx//4
    // drives rate/channels/length (see MixedAudioGen's header comment).
    "a1_audio_meta" ->
      s"""WITH a AS (
         |  SELECT audio_id,
         |    CAST(substr(audio_id, 6, 8) AS INTEGER) % 4 AS fmt,
         |    CAST(substr(audio_id, 6, 8) AS INTEGER) // 4 AS q
         |  FROM read_parquet('${MixedAudioGen.glob(sf)}'))
         |SELECT audio_id,
         |  CASE fmt WHEN 0 THEN 'wav' WHEN 1 THEN 'flac'
         |    WHEN 2 THEN 'mp3' ELSE 'ogg' END AS format,
         |  CASE WHEN fmt = 2
         |    THEN CASE q % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END
         |    ELSE CASE q % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END
         |  END AS sr_hz,
         |  CAST(1 + q % 2 AS INTEGER) AS channels,
         |  CASE WHEN fmt = 0 THEN (CASE WHEN q % 3 = 0 THEN 16 ELSE 8 END)
         |       WHEN fmt = 1 THEN 16 ELSE 0 END AS bits,
         |  CAST(CASE WHEN fmt = 2 THEN 1152 * (2 + q % 4)
         |       ELSE 400 + (q % 5) * 160 END AS BIGINT) AS n_samples
         |FROM a ORDER BY audio_id""".stripMargin,
    "a2_wav_ingest" ->
      s"""WITH a AS (
         |  SELECT audio_id,
         |    CAST(substr(audio_id, 6, 8) AS INTEGER) % 4 AS fmt,
         |    CAST(substr(audio_id, 6, 8) AS INTEGER) // 4 AS q
         |  FROM read_parquet('${MixedAudioGen.glob(sf)}'))
         |SELECT audio_id,
         |  CASE q % 3 WHEN 0 THEN 'pcm16' WHEN 1 THEN 'ulaw' ELSE 'alaw' END AS codec,
         |  CASE q % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END AS sr_hz,
         |  CAST(400 + (q % 5) * 160 AS INTEGER) AS n_samples
         |FROM a
         |WHERE fmt = 0 AND q % 2 = 0 -- mono WAV rows only
         |ORDER BY audio_id""".stripMargin)
}
