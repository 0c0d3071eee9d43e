package graft.image

/** Compressed-image PIXEL decode via `javax.imageio` — part of the JDK
  * (java.desktop module), so this adds NO external dependency: JPEG, PNG,
  * GIF and BMP payloads decode to real rasters in this sandbox. This
  * closes the image half of the compressed-codec gap behind
  * [[graft.operators.Multimodal]] — the analog of the reference's render
  * path handling arbitrary real-world content
  * (`/root/reference/fetch/fetcher.go:284-373`). Compressed video (H.264
  * etc.) has no decoder: the JDK ships no video codecs, and Multimodal
  * gives such payloads a null feature.
  *
  * Output is normalized to [[ImageCodec.Image]] (row-major floats in
  * [0, 1]) so everything downstream — luma, resize, histogram — is shared
  * with the uncompressed path.
  */
object JdkImageCodec {

  // ImageIO touches AWT statics; force headless before first use (no
  // DISPLAY in any executor environment this engine targets).
  private lazy val headless: Unit =
    System.setProperty("java.awt.headless", "true")

  /** Decode any JDK-supported compressed payload; None when no installed
    * reader claims the bytes or the stream is corrupt (row-level data
    * quality on a large corpus, never a job failure). */
  def decode(bytes: Array[Byte]): Option[ImageCodec.Image] = {
    headless
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        val gray = img.getType == java.awt.image.BufferedImage.TYPE_BYTE_GRAY
        val ch = if (gray) 1 else 3
        val out = new Array[Float](w * h * ch)
        if (gray) {
          val raster = img.getRaster
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              out(y * w + x) = raster.getSample(x, y, 0) / 255f
              x += 1
            }
            y += 1
          }
        } else {
          // getRGB converts any model (palette, RGBA, CMYK via reader) to
          // packed sRGB — one shared normalization path
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              val base = (y * w + x) * 3
              out(base) = ((rgb >> 16) & 0xFF) / 255f
              out(base + 1) = ((rgb >> 8) & 0xFF) / 255f
              out(base + 2) = (rgb & 0xFF) / 255f
              x += 1
            }
            y += 1
          }
        }
        Some(ImageCodec.Image(w, h, ch, out))
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Encode an [[ImageCodec.Image]] through a JDK writer ("jpg", "png",
    * "gif", "bmp") — fixture-generation side of the compressed modality
    * (deterministic: JDK writers embed no timestamps). */
  def encode(img: ImageCodec.Image, format: String): Array[Byte] = {
    headless
    val bi = new java.awt.image.BufferedImage(img.width, img.height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < img.height) {
      var x = 0
      while (x < img.width) {
        def cAt(c: Int): Int = {
          val v = img.channels match {
            case 1 => img.pixels(y * img.width + x)
            case _ => img.pixels((y * img.width + x) * img.channels + c)
          }
          math.round(math.max(0f, math.min(1f, v)) * 255f)
        }
        bi.setRGB(x, y, (cAt(0) << 16) | (cAt(1) << 8) | cAt(2))
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(bi, format, out),
      s"no JDK writer for image format '$format'")
    out.toByteArray
  }
}
