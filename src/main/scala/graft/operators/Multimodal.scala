package graft.operators

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}

import graft.audio.AudioCodec
import graft.audio.AudioSynth.mix64
import graft.functions.GraftFunctions.{pcm_band_energies, wav_unwrap}
import graft.functions.Kernels

/** Multimodal asset plumbing: opaque `binary` payloads + typed metadata,
  * one feature vector per asset.
  *
  * Every modality decodes for real or not at all. Audio runs the native
  * decode/filterbank kernels; images decode as netpbm (P5/P6,
  * graft.image.ImageCodec) or JPEG/PNG/GIF/BMP (graft.image.JdkImageCodec,
  * `javax.imageio` from the JDK); video decodes as uncompressed YUV4MPEG2
  * (graft.image.Y4mCodec). A payload that no decoder claims (compressed
  * video, FLAC/MP3/Ogg audio, corrupt bytes) gets a null `feature`.
  *
  * The dispatch is one `select` of `when(kind)` branches over declared
  * kernels (the reference's per-kind fetch dispatch): codegen'd Catalyst
  * expressions, not a typed closure per row.
  */
object Multimodal {

  final case class MediaAsset(
      asset_id: String,
      kind: String,           // "image" | "video" | "audio"
      bytes: Array[Byte],
      width: Int,             // images/video
      height: Int,
      n_frames: Int,          // video (1 for image)
      codec: String)

  final case class MediaFeature(
      asset_id: String,
      kind: String,
      feature: Array[Float],  // fixed-size feature vector; null when undecodable
      out_width: Int,         // 0 when feature is null
      out_height: Int,
      n_sampled_frames: Int)

  /** Per-kind feature extraction over a media asset table:
    *  - audio: 8 filterbank band energies. A mono WAV payload unwraps with
    *    its container header authoritative for (codec, sr); a raw payload
    *    uses its `codec` at 8 kHz.
    *  - image: the `outW` x `outH` luma thumbnail.
    *  - video: the mean luma of every `frameStride`-th y4m frame.
    * Any other `kind` fails the query. */
  def extractFeatures(assets: Dataset[MediaAsset], outW: Int = 8, outH: Int = 8,
                      frameStride: Int = 4): Dataset[MediaFeature] = {
    import assets.sparkSession.implicits._
    val (kind, wav) = (col("kind"), col("wav"))
    val codec = coalesce(wav("codec"), col("codec"))
    val audio = when(codec.isin(AudioCodec.Codecs: _*), pcm_band_energies(
      coalesce(wav("payload"), col("bytes")), codec, coalesce(wav("sr_hz"), lit(8000)))
      .cast(ArrayType(FloatType, containsNull = false)))
    val feature = when(kind === "audio", audio)
      .when(kind === "image", Kernels.ImageThumb.withConsts(outW, outH)(col("bytes")))
      .when(kind === "video", Kernels.Y4mFrameMeans.withConsts(frameStride)(col("bytes")))
      .otherwise(raise_error(format_string("unknown kind: %s", kind)))
    val decoded = col("feature").isNotNull
    def ifDecoded(image: Any, video: Any) =
      when(decoded && kind === "image", image).when(decoded && kind === "video", video).otherwise(0)
    // one wav_unwrap per row (a header check unless the payload is a WAV)
    assets.withColumn("wav", wav_unwrap(col("bytes"))).withColumn("feature", feature)
      .select(col("asset_id"), kind, col("feature"),
        ifDecoded(outW, col("width")).as("out_width"),
        ifDecoded(outH, col("height")).as("out_height"),
        ifDecoded(1, size(col("feature"))).as("n_sampled_frames"))
      .as[MediaFeature]
  }

  /** Deterministic fake asset table for tests/demos. */
  def syntheticAssets(spark: org.apache.spark.sql.SparkSession, n: Int): Dataset[MediaAsset] = {
    import spark.implicits._
    spark.range(n).map { i =>
      val h = mix64(0xA55E7L + i)
      val kind = Seq("image", "video", "audio")(
        java.lang.Long.remainderUnsigned(h, 3L).toInt)
      val bytes = kind match {
        case "audio" =>
          graft.audio.AudioCodec.encode(
            graft.audio.AudioSynth.synth(h, 8000, 800), "ulaw")
        case "image" => // REAL uncompressed PPM: seeded gradient + pattern
          val w = 64; val ht = 48
          val px = new Array[Float](w * ht * 3)
          var p = 0
          while (p < w * ht) {
            val x = p % w; val y = p / w
            px(3 * p) = x.toFloat / (w - 1)
            px(3 * p + 1) = y.toFloat / (ht - 1)
            px(3 * p + 2) =
              java.lang.Long.remainderUnsigned(mix64(h + p), 256L) / 255f
            p += 1
          }
          graft.image.ImageCodec.encode(graft.image.ImageCodec.Image(w, ht, 3, px))
        case _ => // REAL uncompressed y4m: 32 seeded grayscale frames
          graft.image.Y4mCodec.encode(64, 48, (0 until 32).map { f =>
            Array.tabulate(64 * 48)(p =>
              0.2f + 0.6f * (java.lang.Long.remainderUnsigned(
                mix64(h + f * 4801L + p), 1000L) / 999f))
          })
      }
      MediaAsset(f"asset-$i%05d", kind, bytes,
        width = 64, height = 48,
        n_frames = if (kind == "video") 32 else 1,
        codec = kind match {
          case "audio" => "ulaw"
          case "image" => "ppm"
          case _ => "y4m"
        })
    }
  }
}
