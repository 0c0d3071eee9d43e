package graft.image

/** Pure-JVM image codec for UNCOMPRESSED formats (netpbm: P5 grayscale
  * PGM / P6 RGB PPM, the interchange format of every imaging toolchain).
  *
  * Uncompressed formats need no library at all, so the image modality is
  * REAL end-to-end for PGM/PPM payloads: header parse, raster decode (8-
  * and 16-bit), BT.601 luma, bilinear resize, histogram features.
  * Compressed formats decode through [[JdkImageCodec]] into the same
  * [[Image]].
  *
  * Pixels are row-major, channel-interleaved floats in [0, 1].
  */
object ImageCodec {

  final case class Image(width: Int, height: Int, channels: Int,
                         pixels: Array[Float]) {
    require(pixels.length == width * height * channels,
      s"pixel buffer ${pixels.length} != $width x $height x $channels")
  }

  /** Some("P5"|"P6") when `bytes` starts with a supported netpbm magic. */
  def magicOf(bytes: Array[Byte]): Option[String] =
    if (bytes.length >= 2 && bytes(0) == 'P' &&
        (bytes(1) == '5' || bytes(1) == '6'))
      Some(s"P${bytes(1) - '0'}")
    else None

  /** Parsed netpbm header: channel count, dims, maxval, raster offset. */
  private final case class Header(channels: Int, width: Int, height: Int,
                                  maxval: Int, rasterPos: Int) {
    def bytesPerChannel: Int = if (maxval < 256) 1 else 2
    def nSamples: Int = width * height * channels
  }

  /** Bound on each dimension: keeps w*h*ch*bpc far inside Int range (a
    * hostile header like "P6 65536 65536 255" would otherwise overflow
    * the sample count to 0, defeating the truncated-raster guard). */
  private val MaxDim = 1 << 14 // 16384 per side, <= 1.6 GB raster worst case

  /** The ONE netpbm header parser — decode and the fused lumaMean both go
    * through it, so header fixes can never diverge the two paths. */
  private def parseHeader(bytes: Array[Byte]): Header = {
    require(bytes.length >= 2 && bytes(0) == 'P', "not a netpbm image")
    val ch = bytes(1) match {
      case '5' => 1
      case '6' => 3
      case m => throw new IllegalArgumentException(
        s"unsupported netpbm type P${m.toChar} (only binary P5/P6)")
    }
    var pos = 2
    def skipWs(): Unit = {
      var go = true
      while (go && pos < bytes.length) {
        val c = bytes(pos).toChar
        if (c == '#') { while (pos < bytes.length && bytes(pos) != '\n') pos += 1 }
        else if (c.isWhitespace) pos += 1
        else go = false
      }
    }
    def int(): Int = {
      skipWs()
      require(pos < bytes.length && bytes(pos).toChar.isDigit,
        s"bad netpbm header near byte $pos")
      var v = 0L
      while (pos < bytes.length && bytes(pos).toChar.isDigit) {
        v = v * 10 + (bytes(pos) - '0'); pos += 1
        require(v <= Int.MaxValue, "netpbm header number overflows")
      }
      v.toInt
    }
    val w = int(); val h = int(); val maxv = int()
    require(w > 0 && h > 0 && maxv > 0 && maxv < 65536,
      s"bad netpbm dims ${w}x$h maxval $maxv")
    require(w <= MaxDim && h <= MaxDim,
      s"netpbm dims ${w}x$h exceed the $MaxDim-per-side bound")
    pos += 1 // exactly one whitespace byte separates maxval from the raster
    val bpc = if (maxv < 256) 1 else 2
    require(bytes.length.toLong - pos >= w.toLong * h * ch * bpc,
      s"truncated raster: need ${w.toLong * h * ch * bpc} bytes, " +
        s"have ${bytes.length - pos}")
    Header(ch, w, h, maxv, pos)
  }

  /** Header metadata for [[ImageMeta]]: (channels, width, height, maxval).
    * Throws on malformed headers — ImageMeta wraps. */
  private[image] def headerMeta(bytes: Array[Byte]): (Int, Int, Int, Int) = {
    val hd = parseHeader(bytes)
    (hd.channels, hd.width, hd.height, hd.maxval)
  }

  /** Decode a binary PGM (P5) or PPM (P6): header (`#` comments allowed),
    * then the raster — 1 byte/sample for maxval < 256, 2 big-endian
    * bytes otherwise, normalized to [0, 1]. */
  def decode(bytes: Array[Byte]): Image = {
    val hd = parseHeader(bytes)
    val n = hd.nSamples
    val pos = hd.rasterPos
    val maxv = hd.maxval
    val out = new Array[Float](n)
    var i = 0
    if (hd.bytesPerChannel == 1)
      while (i < n) { out(i) = (bytes(pos + i) & 0xFF) / maxv.toFloat; i += 1 }
    else
      while (i < n) {
        out(i) = (((bytes(pos + 2 * i) & 0xFF) << 8) |
          (bytes(pos + 2 * i + 1) & 0xFF)) / maxv.toFloat
        i += 1
      }
    Image(hd.width, hd.height, hd.channels, out)
  }

  /** Encode to binary netpbm at maxval 255 (P5 for 1 channel, P6 for 3). */
  def encode(img: Image): Array[Byte] = {
    val magic = img.channels match {
      case 1 => "P5"
      case 3 => "P6"
      case c => throw new IllegalArgumentException(s"netpbm needs 1 or 3 channels, got $c")
    }
    val header = s"$magic\n${img.width} ${img.height}\n255\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val out = new Array[Byte](header.length + img.pixels.length)
    System.arraycopy(header, 0, out, 0, header.length)
    var i = 0
    while (i < img.pixels.length) {
      val v = math.round(math.max(0f, math.min(1f, img.pixels(i))) * 255f)
      out(header.length + i) = v.toByte
      i += 1
    }
    out
  }

  /** BT.601 luma (the JPEG/MPEG convention): grayscale passes through. */
  def toLuma(img: Image): Image = img.channels match {
    case 1 => img
    case 3 =>
      val out = new Array[Float](img.width * img.height)
      var i = 0
      while (i < out.length) {
        out(i) = 0.299f * img.pixels(3 * i) + 0.587f * img.pixels(3 * i + 1) +
          0.114f * img.pixels(3 * i + 2)
        i += 1
      }
      Image(img.width, img.height, 1, out)
    case c => throw new IllegalArgumentException(s"luma needs 1 or 3 channels, got $c")
  }

  /** Bilinear resize (half-pixel centers / align_corners=false — the
    * OpenCV/PIL convention), per channel. */
  def resizeBilinear(img: Image, outW: Int, outH: Int): Image = {
    require(outW > 0 && outH > 0, s"bad target ${outW}x$outH")
    val sx = img.width.toDouble / outW
    val sy = img.height.toDouble / outH
    val ch = img.channels
    val out = new Array[Float](outW * outH * ch)
    var oy = 0
    while (oy < outH) {
      val fy = (oy + 0.5) * sy - 0.5
      val y0 = math.max(0, math.min(img.height - 1, math.floor(fy).toInt))
      val y1 = math.min(img.height - 1, y0 + 1)
      val wy = (fy - y0).toFloat match { case v if v < 0 => 0f; case v => v }
      var ox = 0
      while (ox < outW) {
        val fx = (ox + 0.5) * sx - 0.5
        val x0 = math.max(0, math.min(img.width - 1, math.floor(fx).toInt))
        val x1 = math.min(img.width - 1, x0 + 1)
        val wx = (fx - x0).toFloat match { case v if v < 0 => 0f; case v => v }
        var c = 0
        while (c < ch) {
          @inline def px(x: Int, y: Int) = img.pixels((y * img.width + x) * ch + c)
          val top = px(x0, y0) * (1 - wx) + px(x1, y0) * wx
          val bot = px(x0, y1) * (1 - wx) + px(x1, y1) * wx
          out((oy * outW + ox) * ch + c) = top * (1 - wy) + bot * wy
          c += 1
        }
        ox += 1
      }
      oy += 1
    }
    Image(outW, outH, ch, out)
  }

  /** Mean BT.601 luma of a netpbm payload in ONE fused pass over the
    * raster bytes — no pixel array materialized (the rms discipline from
    * the audio side; this is the scan-stage reduction behind the oracled
    * image-quality query). */
  def lumaMean(bytes: Array[Byte]): Double = {
    val hd = parseHeader(bytes)
    val pos = hd.rasterPos
    val maxv = hd.maxval
    val bpc = hd.bytesPerChannel
    val nPix = hd.width * hd.height
    @inline def sample(i: Int): Double =
      if (bpc == 1) (bytes(pos + i) & 0xFF).toDouble / maxv
      else (((bytes(pos + 2 * i) & 0xFF) << 8) | (bytes(pos + 2 * i + 1) & 0xFF)).toDouble / maxv
    var acc = 0.0
    var p = 0
    if (hd.channels == 1) while (p < nPix) { acc += sample(p); p += 1 }
    else while (p < nPix) {
      acc += 0.299 * sample(3 * p) + 0.587 * sample(3 * p + 1) + 0.114 * sample(3 * p + 2)
      p += 1
    }
    acc / nPix
  }

  /** Normalized `bins`-bucket histogram of a single-channel image —
    * the classic cheap content descriptor beside the thumbnail. */
  def histogram(gray: Image, bins: Int): Array[Float] = {
    require(gray.channels == 1, "histogram expects a single-channel image")
    require(bins >= 1, s"bins must be >= 1, got $bins")
    val out = new Array[Float](bins)
    var i = 0
    while (i < gray.pixels.length) {
      val b = math.min(bins - 1, (gray.pixels(i) * bins).toInt)
      out(b) += 1f
      i += 1
    }
    var b = 0
    while (b < bins) { out(b) /= gray.pixels.length; b += 1 }
    out
  }
}
