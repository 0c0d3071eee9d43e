package graft.fixtures

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.audio.AudioSynth.mix64
import graft.image.{ImageCodec, JdkImageCodec}

/** Deterministic MIXED-FORMAT image table — the compressed-modality slice
  * of the multimodal corpus: REAL JPEG/PNG/GIF/BMP payloads (encoded by
  * the JDK's javax.imageio, no external jars) interleaved with netpbm, the
  * way a real 100 TB image column arrives. Ground truth is planted by id
  * arithmetic (the i1/c16 discipline) so the DuckDB oracle can state it
  * from the id while the engine must recover it from the BYTES:
  *
  *   format      = idx % 6  -> {jpeg, png, pgm, ppm, gif, bmp}
  *   width       = 16 + (idx % 9) * 8     (16..80)
  *   height      = 12 + (idx % 7) * 6     (12..48)
  *   luma class  = idx % 10: 4 -> DARK (all values <= 0.05),
  *                 9 -> BRIGHT (>= 0.95), else mid-range [0.25, 0.75]
  *
  * Pixels are gray (r=g=b), so BT.601 luma == the planted value up to
  * codec loss: JPEG quantization / GIF palette shift the MEAN by well
  * under 0.02, an order of magnitude inside the dark/bright thresholds.
  */
object MixedImageGen extends FixtureTable("mixed", "mixed_images", version = 1,
    minRows = 120, clipsPerRow = 10) {

  def imageId(idx: Long): String = f"mimg-$idx%08d"

  final case class MixedRow(image_id: String, bytes: Array[Byte])

  def imageRow(idx: Long): MixedRow = {
    val seed = mix64(0x3C0FFEE5L + idx)
    val w = 16 + (idx % 9).toInt * 8
    val h = 12 + (idx % 7).toInt * 6
    val (lo, span) = (idx % 10) match {
      case 4 => (0f, 0.05f)
      case 9 => (0.95f, 0.05f)
      case _ => (0.25f, 0.50f)
    }
    val gray = new Array[Float](w * h)
    var p = 0
    while (p < gray.length) {
      gray(p) = lo + span *
        (java.lang.Long.remainderUnsigned(mix64(seed + p), 1000L) / 999f)
      p += 1
    }
    val img1 = ImageCodec.Image(w, h, 1, gray)
    val bytes = (idx % 6) match {
      case 0 => JdkImageCodec.encode(img1, "jpg")
      case 1 => JdkImageCodec.encode(img1, "png")
      case 2 => ImageCodec.encode(img1) // P5 PGM
      case 3 => // P6 PPM (explicit 3-channel gray)
        val rgb = new Array[Float](w * h * 3)
        var i = 0
        while (i < gray.length) {
          rgb(3 * i) = gray(i); rgb(3 * i + 1) = gray(i); rgb(3 * i + 2) = gray(i)
          i += 1
        }
        ImageCodec.encode(ImageCodec.Image(w, h, 3, rgb))
      case 4 => JdkImageCodec.encode(img1, "gif")
      case _ => JdkImageCodec.encode(img1, "bmp")
    }
    MixedRow(imageId(idx), bytes)
  }

  def rows(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(n).map(i => imageRow(i)).toDF()
  }
}
