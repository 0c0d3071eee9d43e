package graft.image

/** LIBRARY-FREE H.264/AVC metadata extraction — the video analog of
  * [[ImageMeta]]: a 100 TB video column is H.264 inside containers, and
  * dimensions/profile/level must come out of the BYTES without a decoder
  * (which this environment genuinely lacks — the JDK ships no video
  * codec, so there is no pixel decode; header metadata needs none).
  *
  * Implements, from the public specification (ITU-T H.264 §7.3.2.1.1):
  *  - Annex-B NAL walk (00 00 01 / 00 00 00 01 start codes) to the first
  *    SPS (nal_unit_type 7);
  *  - emulation-prevention removal (00 00 03 -> 00 00) to recover the
  *    RBSP;
  *  - Exp-Golomb (ue/se) bit reader;
  *  - SPS parse: profile/level, chroma format + bit depth (High
  *    profiles), scaling-list skip, picture dimensions in macroblocks,
  *    frame cropping -> exact pixel dimensions, interlace flag.
  *
  * Malformed/truncated input returns None, never throws (row-level data
  * quality on a large corpus). [[SpsWriter]] is the fixture-side
  * encoder: it writes the same syntax in spec order, so planted-dimension
  * fixtures exercise every field path including crop and High-profile
  * branches.
  */
object H264Meta {

  /** `width`/`height` are exact cropped pixel dims; `bitDepth` is luma. */
  final case class Meta(profileIdc: Int, levelIdc: Int, width: Int,
                        height: Int, bitDepth: Int, interlaced: Boolean)

  /** RBSP bit reader with Exp-Golomb decode. Throws on exhaustion —
    * [[parseSps]] wraps. */
  private final class BitReader(rbsp: Array[Byte]) {
    private var pos = 0 // bit position
    def u(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) {
        val byteIdx = pos >>> 3
        require(byteIdx < rbsp.length, "SPS truncated")
        v = (v << 1) | ((rbsp(byteIdx) >> (7 - (pos & 7))) & 1)
        pos += 1; i += 1
      }
      v
    }
    def ue(): Int = {
      var zeros = 0
      while (u(1) == 0) { zeros += 1; require(zeros <= 31, "ue overflow") }
      if (zeros == 0) 0 else ((1 << zeros) | u(zeros)) - 1
    }
    def se(): Int = {
      val k = ue()
      if ((k & 1) == 1) (k + 1) / 2 else -(k / 2)
    }
  }

  /** Strip emulation-prevention bytes: 00 00 03 xx -> 00 00 xx. */
  private[image] def toRbsp(nal: Array[Byte], from: Int, until: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(until - from)
    var i = from
    var zeros = 0
    while (i < until) {
      val b = nal(i) & 0xFF
      if (zeros >= 2 && b == 3) zeros = 0 // emulation-prevention byte: drop
      else {
        out.write(b)
        zeros = if (b == 0) zeros + 1 else 0
      }
      i += 1
    }
    out.toByteArray
  }

  /** Parse an Annex-B stream (or a bare SPS NAL): find the first SPS and
    * return its metadata. */
  def parse(bytes: Array[Byte]): Option[Meta] =
    try {
      findSps(bytes).flatMap { case (from, until) =>
        parseSpsRbsp(toRbsp(bytes, from, until))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** (start, end) of the first SPS NAL's payload (past the header byte). */
  private def findSps(b: Array[Byte]): Option[(Int, Int)] = {
    // bare SPS NAL (no start code): header byte with type 7
    if (b.length > 1 && (b(0) & 0x80) == 0 && (b(0) & 0x1F) == 7)
      return Some((1, b.length))
    var i = 0
    var spsStart = -1
    var result: Option[(Int, Int)] = None
    while (i + 3 < b.length && result.isEmpty) {
      val isStart3 = b(i) == 0 && b(i + 1) == 0 && b(i + 2) == 1
      val isStart4 = i + 4 < b.length && b(i) == 0 && b(i + 1) == 0 &&
        b(i + 2) == 0 && b(i + 3) == 1
      if (isStart3 || isStart4) {
        val hdr = i + (if (isStart3) 3 else 4)
        if (spsStart >= 0) result = Some((spsStart, i)) // SPS ended here
        else if (hdr < b.length && (b(hdr) & 0x1F) == 7) spsStart = hdr + 1
        i = hdr
      } else i += 1
    }
    result.orElse(if (spsStart >= 0) Some((spsStart, b.length)) else None)
  }

  /** High-profile family that carries chroma/bit-depth fields (§7.3.2.1.1). */
  private val HighProfiles =
    Set(100, 110, 122, 244, 44, 83, 86, 118, 128, 138, 139, 134, 135)

  private def parseSpsRbsp(rbsp: Array[Byte]): Option[Meta] = {
    val r = new BitReader(rbsp)
    val profileIdc = r.u(8)
    r.u(8) // constraint_set flags + reserved
    val levelIdc = r.u(8)
    r.ue() // seq_parameter_set_id
    var chromaFormatIdc = 1 // 4:2:0 default for non-High profiles
    var bitDepthLuma = 8
    if (HighProfiles.contains(profileIdc)) {
      chromaFormatIdc = r.ue()
      if (chromaFormatIdc == 3) r.u(1) // separate_colour_plane_flag
      bitDepthLuma = r.ue() + 8
      r.ue() // bit_depth_chroma_minus8
      r.u(1) // qpprime_y_zero_transform_bypass_flag
      if (r.u(1) == 1) { // seq_scaling_matrix_present_flag
        val nLists = if (chromaFormatIdc != 3) 8 else 12
        var l = 0
        while (l < nLists) {
          if (r.u(1) == 1) skipScalingList(r, if (l < 6) 16 else 64)
          l += 1
        }
      }
    }
    r.ue() // log2_max_frame_num_minus4
    val pocType = r.ue()
    if (pocType == 0) r.ue() // log2_max_pic_order_cnt_lsb_minus4
    else if (pocType == 1) {
      r.u(1); r.se(); r.se()
      val n = r.ue()
      var i = 0
      while (i < n) { r.se(); i += 1 }
    }
    r.ue() // max_num_ref_frames
    r.u(1) // gaps_in_frame_num_value_allowed_flag
    val widthMbs = r.ue() + 1
    val heightMapUnits = r.ue() + 1
    val frameMbsOnly = r.u(1)
    if (frameMbsOnly == 0) r.u(1) // mb_adaptive_frame_field_flag
    r.u(1) // direct_8x8_inference_flag
    var cropL = 0; var cropR = 0; var cropT = 0; var cropB = 0
    if (r.u(1) == 1) { cropL = r.ue(); cropR = r.ue(); cropT = r.ue(); cropB = r.ue() }
    // crop units (§7.4.2.1.1): SubWidthC/SubHeightC by chroma format;
    // monochrome/4:4:4-separate crop in luma samples
    val (subW, subH) = chromaFormatIdc match {
      case 1 => (2, 2) // 4:2:0
      case 2 => (2, 1) // 4:2:2
      case _ => (1, 1) // monochrome or 4:4:4
    }
    val heightMul = 2 - frameMbsOnly
    val width = widthMbs * 16 - subW * (cropL + cropR)
    val height = heightMul * heightMapUnits * 16 - subH * heightMul * (cropT + cropB)
    if (width <= 0 || height <= 0) None
    else Some(Meta(profileIdc, levelIdc, width, height, bitDepthLuma,
      interlaced = frameMbsOnly == 0))
  }

  private def skipScalingList(r: BitReader, size: Int): Unit = {
    var lastScale = 8; var nextScale = 8
    var j = 0
    while (j < size) {
      if (nextScale != 0) nextScale = (lastScale + r.se() + 256) % 256
      if (nextScale != 0) lastScale = nextScale
      j += 1
    }
  }

  // ------------------------------------------------------- Spark bridge

  /** video_meta over EITHER container this engine models: uncompressed
    * YUV4MPEG2 (real decode path) or H.264 Annex-B (this header walk).
    * Returns (codec, profile_idc, level_idc, width, height) as an
    * InternalRow; null when neither claims the payload. */
  def metaRow(bytes: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow = {
    def row(codec: String, profile: Int, level: Int, w: Int, h: Int) =
      org.apache.spark.sql.catalyst.InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString(codec),
        profile, level, w, h)
    if (Y4mCodec.isY4m(bytes))
      scala.util.Try(Y4mCodec.parseMeta(bytes)).toOption
        .map(m => row("y4m", 0, 0, m.width, m.height)).orNull
    else parse(bytes)
      .map(m => row("h264", m.profileIdc, m.levelIdc, m.width, m.height))
      .orNull
  }
}

/** Fixture-side SPS encoder: writes the same §7.3.2.1.1 syntax in spec
  * order (Exp-Golomb, emulation prevention, Baseline and High profile
  * branches, frame cropping) so planted-dimension tables exercise every
  * parser path. Emits a full Annex-B stream: SPS + PPS stub + filler
  * NALs — header-sniffable like real-world video, not decodable (no
  * entropy-coded slices; the engine has no compressed-video pixel
  * decoder). */
object SpsWriter {

  private final class BitWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var cur = 0
    private var nbits = 0
    def u(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        cur = (cur << 1) | ((v >> i) & 1)
        nbits += 1
        if (nbits == 8) { out.write(cur); cur = 0; nbits = 0 }
        i -= 1
      }
    }
    def ue(v: Int): Unit = {
      val k = v + 1
      val len = 32 - Integer.numberOfLeadingZeros(k)
      u(0, len - 1)
      u(k, len)
    }
    /** rbsp_trailing_bits + byte-align. */
    def finish(): Array[Byte] = {
      u(1, 1)
      if (nbits > 0) { u(0, 8 - nbits) }
      out.toByteArray
    }
  }

  /** Insert emulation-prevention bytes (00 00 {00,01,02,03} -> 00 00 03 x). */
  private[image] def emulationPrevent(rbsp: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(rbsp.length + 8)
    var zeros = 0
    rbsp.foreach { b0 =>
      val b = b0 & 0xFF
      if (zeros >= 2 && b <= 3) { out.write(3); zeros = 0 }
      out.write(b)
      zeros = if (b == 0) zeros + 1 else 0
    }
    out.toByteArray
  }

  /** A structurally valid Annex-B H.264 stream whose SPS plants the given
    * profile/level/dimensions. `width`/`height` must be even (4:2:0 crop
    * units); non-multiples of 16 are expressed via frame cropping. */
  def annexB(profileIdc: Int, levelIdc: Int, width: Int, height: Int): Array[Byte] = {
    require(width > 0 && height > 0 && width % 2 == 0 && height % 2 == 0,
      s"dims must be positive and even, got ${width}x$height")
    val w = new BitWriter
    w.u(profileIdc, 8)
    w.u(0, 8) // constraint flags
    w.u(levelIdc, 8)
    w.ue(0) // sps id
    if (profileIdc == 100) {
      w.ue(1) // chroma_format_idc 4:2:0
      w.ue(0); w.ue(0) // bit depths 8
      w.u(0, 1) // qpprime
      w.u(0, 1) // no scaling matrix
    }
    w.ue(0) // log2_max_frame_num_minus4
    w.ue(0) // poc type 0
    w.ue(0) // log2_max_pic_order_cnt_lsb_minus4
    w.ue(1) // max_num_ref_frames
    w.u(0, 1) // gaps
    val mbsW = (width + 15) / 16
    val mapH = (height + 15) / 16
    w.ue(mbsW - 1)
    w.ue(mapH - 1)
    w.u(1, 1) // frame_mbs_only
    w.u(1, 1) // direct_8x8
    val cropR = (mbsW * 16 - width) / 2
    val cropB = (mapH * 16 - height) / 2
    if (cropR > 0 || cropB > 0) {
      w.u(1, 1)
      w.ue(0); w.ue(cropR); w.ue(0); w.ue(cropB)
    } else w.u(0, 1)
    w.u(0, 1) // vui_parameters_present_flag
    val sps = emulationPrevent(w.finish())
    val out = new java.io.ByteArrayOutputStream()
    def nal(header: Int, payload: Array[Byte]): Unit = {
      out.write(Array[Byte](0, 0, 0, 1), 0, 4)
      out.write(header)
      out.write(payload, 0, payload.length)
    }
    nal(0x67, sps) // SPS (ref_idc 3, type 7)
    nal(0x68, Array[Byte](0xCE.toByte, 0x38.toByte, 0x80.toByte)) // PPS stub
    nal(0x06, Array.fill(16)(0x55.toByte)) // SEI filler
    out.toByteArray
  }
}
