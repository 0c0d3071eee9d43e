package graft.fixtures

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.audio.AudioSynth.mix64
import graft.image.ImageCodec

/** Deterministic image table — the image-modality slice of the multimodal
  * corpus, with REAL uncompressed PPM payloads (graft.image.ImageCodec).
  * Generated per scale factor under data/images/<sf>/ so the
  * DuckDB oracle reads the SAME parquet the engine reads, and ground
  * truth is the id-arithmetic planting rule (the c14/c15/c16 discipline):
  *
  *   idx % 20 == 7  -> DARK   (every sample's luma <= ~0.07)
  *   idx % 20 == 17 -> BRIGHT (every sample's luma >= ~0.93)
  *   otherwise      -> mid-range pattern (luma in [0.25, 0.75])
  *
  * The engine must recover exactly the planted sets from the BYTES
  * (netpbm decode + luma reduction); the oracle states them from the id.
  */
object ImageGen extends FixtureTable("images", "images", version = 1,
    minRows = 100, clipsPerRow = 10) {

  val W = 64
  val H = 48

  def imageId(idx: Long): String = f"img-$idx%08d"

  final case class ImageRow(image_id: String, bytes: Array[Byte],
                            width: Int, height: Int)

  def imageRow(idx: Long): ImageRow = {
    val seed = mix64(0x1AA6E5EEDL + idx)
    val (lo, span) = (idx % 20) match {
      case 7  => (0f, 0.07f)
      case 17 => (0.93f, 0.07f)
      case _  => (0.25f, 0.50f)
    }
    val px = new Array[Float](W * H * 3)
    var p = 0
    while (p < W * H) {
      val r = java.lang.Long.remainderUnsigned(mix64(seed + p), 1000L) / 999f
      val v = lo + r * span
      // gray pixels: BT.601 weights sum to 1, so luma == v (up to 1/255
      // quantization) — keeps the planted margins exact and auditable
      px(3 * p) = v; px(3 * p + 1) = v; px(3 * p + 2) = v
      p += 1
    }
    ImageRow(imageId(idx), ImageCodec.encode(ImageCodec.Image(W, H, 3, px)), W, H)
  }

  def rows(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(n).map(i => imageRow(i)).toDF()
  }
}
