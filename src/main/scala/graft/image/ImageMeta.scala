package graft.image

/** LIBRARY-FREE metadata extraction for COMPRESSED image payloads — the
  * scan-stage analog of the reference's render path accepting arbitrary
  * real-world content (`/root/reference/fetch/fetcher.go:284-373`): a 100 TB
  * corpus's image column is JPEG/PNG/GIF/BMP, not netpbm, and dimensions /
  * channel counts / bit depths must come out of the BYTES without decoding
  * a single pixel (decode is 100-1000x the cost of a header walk and is
  * not needed for schema/stats/filter pushdown decisions).
  *
  * Format coverage, all from the public specifications:
  *  - JPEG (ITU-T T.81): SOI then marker-segment walk to the first SOF
  *    frame header (SOF0/1/2/3/5/6/7/9/10/11/13/14/15 — baseline through
  *    arithmetic-coded progressive), reading sample precision, dimensions
  *    and component count. APPn/COM/DQT/DHT segments are SKIPPED by their
  *    2-byte big-endian lengths, never parsed.
  *  - PNG (RFC 2083): 8-byte signature, then the IHDR chunk (spec: must be
  *    first) — width, height, bit depth, colour type.
  *  - GIF (87a/89a): logical screen descriptor, little-endian dims.
  *  - BMP (BITMAPINFOHEADER): little-endian dims + bit count.
  *  - netpbm P5/P6: delegated to [[ImageCodec]] (shared header parser).
  *
  * Full PIXEL decode for the compressed formats lives in [[JdkImageCodec]]
  * (javax.imageio, part of the JDK — no external jars); this object is the
  * cheap path that never touches a raster.
  */
object ImageMeta {

  /** Parsed header metadata. `channels` is the rendered channel count
    * (palette formats report 3 — entries are RGB triples). */
  final case class Meta(format: String, width: Int, height: Int,
                        channels: Int, bitDepth: Int)

  /** Magic-byte sniff; "unknown" when no supported signature matches.
    * Cheap enough for a per-row dispatch column. */
  def detect(bytes: Array[Byte]): String = {
    def b(i: Int) = bytes(i) & 0xFF
    if (bytes == null || bytes.length < 10) "unknown"
    else if (b(0) == 0xFF && b(1) == 0xD8) "jpeg"
    else if (b(0) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G' &&
             b(4) == 0x0D && b(5) == 0x0A && b(6) == 0x1A && b(7) == 0x0A) "png"
    else if (b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8' &&
             (b(4) == '7' || b(4) == '9') && b(5) == 'a') "gif"
    else if (b(0) == 'B' && b(1) == 'M') "bmp"
    else if (b(0) == 'P' && b(1) == '5') "pgm"
    else if (b(0) == 'P' && b(1) == '6') "ppm"
    else "unknown"
  }

  /** Parse header metadata; None when the payload is not a supported
    * format or its header is malformed/truncated (a 100 TB corpus WILL
    * contain both — callers treat None as row-level data quality, never
    * as a job failure). */
  def parse(bytes: Array[Byte]): Option[Meta] =
    try {
      detect(bytes) match {
        case "jpeg" => parseJpeg(bytes)
        case "png" => parsePng(bytes)
        case "gif" => parseGif(bytes)
        case "bmp" => parseBmp(bytes)
        case f @ ("pgm" | "ppm") =>
          val hd = ImageCodec.headerMeta(bytes)
          Some(Meta(f, hd._2, hd._3, hd._1, if (hd._4 < 256) 8 else 16))
        case _ => None
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  private def u16be(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xFF) << 8) | (b(i + 1) & 0xFF)
  private def u32be(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xFFL) << 24) | ((b(i + 1) & 0xFFL) << 16) |
      ((b(i + 2) & 0xFFL) << 8) | (b(i + 3) & 0xFFL)
  private def u16le(b: Array[Byte], i: Int): Int =
    (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8)
  private def u32le(b: Array[Byte], i: Int): Long =
    (b(i) & 0xFFL) | ((b(i + 1) & 0xFFL) << 8) |
      ((b(i + 2) & 0xFFL) << 16) | ((b(i + 3) & 0xFFL) << 24)

  /** ITU-T T.81 §B: marker-segment walk from SOI to the first frame
    * header. Fill bytes (0xFF padding before a marker) are legal and
    * skipped; standalone markers (TEM, RSTn, SOI) carry no length. */
  private def parseJpeg(b: Array[Byte]): Option[Meta] = {
    var pos = 2 // past SOI
    while (pos + 4 <= b.length) {
      if ((b(pos) & 0xFF) != 0xFF) return None // lost marker alignment
      var mPos = pos
      while (mPos < b.length && (b(mPos) & 0xFF) == 0xFF) mPos += 1 // fill bytes
      if (mPos >= b.length) return None
      val marker = b(mPos) & 0xFF
      marker match {
        case 0xD8 | 0x01 => pos = mPos + 1 // SOI / TEM: standalone
        case m if m >= 0xD0 && m <= 0xD7 => pos = mPos + 1 // RSTn
        case 0xD9 => return None // EOI before any SOF
        case 0xDA => return None // SOS before any SOF: malformed stream
        case m if (m >= 0xC0 && m <= 0xCF) && m != 0xC4 && m != 0xC8 && m != 0xCC =>
          // SOFn frame header: [len][precision][height][width][Nf]
          if (mPos + 9 >= b.length) return None
          val precision = b(mPos + 3) & 0xFF
          val h = u16be(b, mPos + 4)
          val w = u16be(b, mPos + 6)
          val nf = b(mPos + 8) & 0xFF
          if (w <= 0 || h <= 0 || nf <= 0) return None
          return Some(Meta("jpeg", w, h, nf, precision))
        case _ =>
          if (mPos + 3 > b.length) return None
          val len = u16be(b, mPos + 1)
          if (len < 2) return None
          pos = mPos + 1 + len
      }
    }
    None
  }

  /** RFC 2083 §3.1/§4.1.1: signature + IHDR (must be the first chunk). */
  private def parsePng(b: Array[Byte]): Option[Meta] = {
    if (b.length < 26) return None
    if (u32be(b, 8) != 13L) return None // IHDR data length
    if (!(b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R')) return None
    val w = u32be(b, 16)
    val h = u32be(b, 20)
    if (w <= 0 || h <= 0 || w > Int.MaxValue || h > Int.MaxValue) return None
    val bitDepth = b(24) & 0xFF
    val channels = (b(25) & 0xFF) match {
      case 0 => 1 // grayscale
      case 2 => 3 // truecolour
      case 3 => 3 // palette (entries are RGB)
      case 4 => 2 // gray + alpha
      case 6 => 4 // RGBA
      case _ => return None
    }
    Some(Meta("png", w.toInt, h.toInt, channels, bitDepth))
  }

  /** GIF87a/89a logical screen descriptor. */
  private def parseGif(b: Array[Byte]): Option[Meta] = {
    if (b.length < 13) return None
    val w = u16le(b, 6)
    val h = u16le(b, 8)
    if (w <= 0 || h <= 0) return None
    Some(Meta("gif", w, h, 3, 8)) // paletted; entries are 8-bit RGB
  }

  /** BMP file header + BITMAPINFOHEADER (the universal variant). */
  private def parseBmp(b: Array[Byte]): Option[Meta] = {
    if (b.length < 30) return None
    val w = u32le(b, 18)
    val h = math.abs(u32le(b, 22).toInt) // negative height = top-down rows
    val bitCount = u16le(b, 28)
    if (w <= 0 || h <= 0 || w > Int.MaxValue || bitCount <= 0) return None
    val channels = if (bitCount <= 8) 3 else bitCount / 8 // paletted -> RGB
    Some(Meta("bmp", w.toInt, h, channels, math.min(bitCount, 8)))
  }

  // ------------------------------------------------------ Spark bridges

  /** [[parse]] as an InternalRow for the `image_meta` Catalyst expression
    * (null when unparseable — row-level quality, not a job failure). */
  def metaRow(bytes: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow =
    parse(bytes) match {
      case Some(m) => org.apache.spark.sql.catalyst.InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString(m.format),
        m.width, m.height, m.channels, m.bitDepth)
      case None => null
    }

  /** Mean BT.601 luma of ANY supported payload: netpbm via the fused
    * raster pass (no pixel array), compressed formats via the JDK decoder.
    * Null when undecodable (SQL null in `image_luma_mean`). */
  def lumaMeanAny(bytes: Array[Byte]): java.lang.Double =
    detect(bytes) match {
      case "pgm" | "ppm" => ImageCodec.lumaMean(bytes)
      case "unknown" => null
      case _ => JdkImageCodec.decode(bytes) match {
        case Some(img) =>
          val gray = ImageCodec.toLuma(img)
          var acc = 0.0
          var i = 0
          while (i < gray.pixels.length) { acc += gray.pixels(i); i += 1 }
          acc / gray.pixels.length
        case None => null
      }
    }

  /** `outW` x `outH` bilinear luma thumbnail of ANY supported payload:
    * netpbm by its magic, otherwise the JDK decoder. Null when neither
    * decodes it (SQL null in `image_thumb`). */
  def thumbnailAny(bytes: Array[Byte], outW: Int, outH: Int): Array[Float] = {
    val netpbm =
      if (ImageCodec.magicOf(bytes).isEmpty) None
      else scala.util.Try(ImageCodec.decode(bytes)).toOption
    netpbm.orElse(JdkImageCodec.decode(bytes))
      .map(img => ImageCodec.resizeBilinear(ImageCodec.toLuma(img), outW, outH).pixels)
      .orNull
  }
}
