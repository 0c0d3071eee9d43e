package graft.fixtures

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.audio.AudioSynth.mix64
import graft.image.{SpsWriter, Y4mCodec}

/** Deterministic MIXED-CONTAINER video table — the video-metadata slice of
  * the multimodal corpus: uncompressed YUV4MPEG2 payloads (real decode
  * path) interleaved with structurally valid H.264 Annex-B streams (SPS +
  * PPS + SEI — header-sniffable like real-world video; not decodable, as
  * the engine has no compressed-video pixel decoder). Ground truth by
  * id arithmetic (the i2 discipline):
  *
  *   container   = idx % 2  -> {y4m, h264}
  *   width       = 160 + (idx % 11) * 18   (160..340, even; many
  *   height      = 90  + (idx % 7) * 14    non-multiples of 16 -> the
  *                                          SPS crop path is exercised)
  *   h264 profile = 66 (Baseline) at idx%4==1, 100 (High) at idx%4==3
  *   h264 level   = 30 + (idx % 3) * 10
  */
object MixedVideoGen extends FixtureTable("mixedvid", "mixed_videos", version = 1,
    minRows = 120, clipsPerRow = 50) {

  def videoId(idx: Long): String = f"mvid-$idx%08d"

  final case class MixedVideoRow(video_id: String, bytes: Array[Byte])

  def videoRow(idx: Long): MixedVideoRow = {
    val w = 160 + (idx % 11).toInt * 18
    val h = 90 + (idx % 7).toInt * 14
    val bytes =
      if (idx % 2 == 0) {
        val seed = mix64(0x51DE0L + idx)
        Y4mCodec.encode(w, h, Seq(Array.tabulate(w * h)(p =>
          0.2f + 0.6f * (java.lang.Long.remainderUnsigned(
            mix64(seed + p), 1000L) / 999f))))
      } else {
        val profile = if (idx % 4 == 1) 66 else 100
        val level = 30 + (idx % 3).toInt * 10
        SpsWriter.annexB(profile, level, w, h)
      }
    MixedVideoRow(videoId(idx), bytes)
  }

  def rows(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(n).map(i => videoRow(i)).toDF()
  }
}
