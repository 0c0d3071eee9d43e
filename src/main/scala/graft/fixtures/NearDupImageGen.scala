package graft.fixtures

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.audio.AudioSynth.mix64
import graft.image.{ImageCodec, JdkImageCodec}

/** Deterministic image table for CROSS-FORMAT near-dup detection (i4):
  * structured two-wave gradient content (stable difference-hash bits —
  * noise content would put neighbor comparisons at ties, where codec loss
  * flips them) across four formats, with planted twins that are the SAME
  * pixels re-encoded through the NEXT format — PNG twin of a JPEG, BMP
  * twin of a PGM, etc., JPEG loss included:
  *
  *   format = idx % 4 -> {jpeg, png, pgm, bmp}
  *   twin   : idx % 10 == 7 -> row `<id>-t`, same pixels, format (idx+1)%4
  *
  * The engine must recover exactly the planted (id, id-t) pairs from the
  * BYTES via `image_dhash` + `Dedup.hashNearDup` (ImageHashSpec measures
  * the margins: twin hamming vs organic hamming are an order of magnitude
  * apart on this content). */
object NearDupImageGen extends FixtureTable("neardup", "neardup_images",
    version = 1, minRows = 120, clipsPerRow = 10) {

  val W = 96
  val H = 72

  def imageId(idx: Long): String = f"nimg-$idx%08d"

  final case class NearDupRow(image_id: String, bytes: Array[Byte])

  private val formats = Seq("jpg", "png", "pgm", "bmp")

  /** Band-limited random field: a seeded 10x9 coarse grid of independent
    * uniforms, bilinear-upsampled to WxH. Random at exactly the dHash
    * thumbnail scale (so 64 comparison bits are ~independent across
    * images — plane-wave content collided at hamming 0: too few sign
    * transitions) while smooth at pixel scale (so JPEG loss perturbs the
    * resized cells by far less than the typical neighbor gap). */
  private def pixels(idx: Long): Array[Float] = {
    val s = mix64(0xD8A51L + idx)
    val coarse = ImageCodec.Image(10, 9, 1, Array.tabulate(90)(i =>
      0.1f + 0.8f *
        (java.lang.Long.remainderUnsigned(mix64(s + i), 10000L) / 9999f)))
    ImageCodec.resizeBilinear(coarse, W, H).pixels
  }

  private def encode(px: Array[Float], fmt: String): Array[Byte] = fmt match {
    case "pgm" => ImageCodec.encode(ImageCodec.Image(W, H, 1, px))
    case f => JdkImageCodec.encode(ImageCodec.Image(W, H, 1, px), f)
  }

  def baseRow(idx: Long): NearDupRow =
    NearDupRow(imageId(idx), encode(pixels(idx), formats((idx % 4).toInt)))

  def twinRow(idx: Long): NearDupRow = {
    require(idx % 10 == 7, s"no twin planted at idx $idx")
    NearDupRow(imageId(idx) + "-t",
      encode(pixels(idx), formats(((idx + 1) % 4).toInt)))
  }

  def rows(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    val base = spark.range(n).map(i => baseRow(i))
    val twins = spark.range(n).filter(_ % 10 == 7).map(i => twinRow(i))
    base.union(twins).toDF()
  }
}
