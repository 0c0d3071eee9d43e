package graft.fixtures

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.audio.AudioSynth.mix64
import graft.image.Y4mCodec

/** Deterministic video table — the video-modality slice of the multimodal
  * corpus, with REAL uncompressed YUV4MPEG2 payloads (graft.image
  * .Y4mCodec). Same discipline as ImageGen: generated per scale factor
  * under data/videos/<sf>/, the DuckDB oracle reads the SAME
  * parquet, and ground truth is the id-arithmetic planting rule:
  *
  *   idx % 20 == 3  -> STATIC     (all frames identical; frame-mean
  *                                 delta exactly 0)
  *   idx % 20 == 13 -> HIGH-MOTION (alternating dark/bright frames;
  *                                 frame-mean delta ~0.7)
  *   otherwise      -> organic drift (frame means toggle by ~0.02 —
  *                     an order of magnitude from both thresholds)
  *
  * v2 adds the NEAR-DUP planting for v3 (the i4 discipline on the video
  * column): every idx % 20 == 6 video gains a '-d' twin that is both
  * TRIMMED (first 2 frames dropped) and RE-ENCODED (affine luma remap
  * 0.95x + 0.04 — what a transcode's level shift does; gradient signs
  * preserved, so the per-frame dHash moves only on near-tie cells). The
  * '-d' rows are organic-drift content (%20 == 6), so v1's motion
  * thresholds ignore them by construction.
  */
object VideoGen extends FixtureTable("videos", "videos", version = 2,
    minRows = 50, clipsPerRow = 50) {

  val W = 32
  val H = 24
  val Frames = 16

  def videoId(idx: Long): String = f"vid-$idx%08d"

  final case class VideoRow(video_id: String, bytes: Array[Byte],
                            width: Int, height: Int, n_frames: Int)

  def videoRow(idx: Long): VideoRow = {
    val seed = mix64(0x51DE0EEDL + idx)
    val base = Array.tabulate(W * H)(p =>
      0.3f + 0.4f * (java.lang.Long.remainderUnsigned(mix64(seed + p), 1000L) / 999f))
    val frames: Seq[Array[Float]] = (idx % 20) match {
      case 3 => Seq.fill(Frames)(base) // static: identical frames
      case 13 => // high motion: frame mean toggles between ~0.15 and ~0.85
        (0 until Frames).map { f =>
          val lo = if (f % 2 == 0) 0.1f else 0.8f
          base.map(v => lo + (v - 0.3f) * 0.25f)
        }
      case _ => // organic: +-0.01 frame-mean drift (delta ~0.02)
        (0 until Frames).map { f =>
          val off = if (f % 2 == 0) -0.01f else 0.01f
          base.map(_ + off)
        }
    }
    VideoRow(videoId(idx), Y4mCodec.encode(W, H, frames), W, H, Frames)
  }

  /** Trimmed + luma-remapped twin of organic video `idx` (idx%20 == 6). */
  def twinRow(idx: Long): VideoRow = {
    require(idx % 20 == 6, s"twins are planted at idx%20==6, got $idx")
    val seed = mix64(0x51DE0EEDL + idx)
    val base = Array.tabulate(W * H)(p =>
      0.3f + 0.4f * (java.lang.Long.remainderUnsigned(mix64(seed + p), 1000L) / 999f))
    val frames = (2 until Frames).map { f => // leading 2 frames trimmed
      val off = if (f % 2 == 0) -0.01f else 0.01f
      base.map(v => (v + off) * 0.95f + 0.04f) // transcode-style remap
    }
    VideoRow(videoId(idx) + "-d", Y4mCodec.encode(W, H, frames), W, H, Frames - 2)
  }

  def rows(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(n).map(i => videoRow(i))
      .union(spark.range(n).filter(_ % 20 == 6).map(i => twinRow(i)))
      .toDF()
  }
}
