package graft.image

/** Pure-JVM video codec for the UNCOMPRESSED YUV4MPEG2 (.y4m) container —
  * the interchange format of every video toolchain (ffmpeg/x264/VMAF all
  * speak it), and like netpbm it needs no library: a text header
  * (`YUV4MPEG2 W<w> H<h> F<n>:<d> [C<colorspace> ...]`) followed by
  * `FRAME\n`-delimited raw planar YUV payloads. So the VIDEO modality is
  * real end-to-end for y4m payloads; compressed codecs (H.264 etc.) have
  * no decoder here, and Multimodal gives them a null feature.
  *
  * Supported colorspaces: C420 (default, and its C420jpeg/C420paldv
  * variants — same plane sizes), C422, C444, Cmono. Luma values are
  * normalized to [0, 1].
  */
object Y4mCodec {

  private val Magic = "YUV4MPEG2 ".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  def isY4m(bytes: Array[Byte]): Boolean =
    bytes.length >= Magic.length && {
      var i = 0
      while (i < Magic.length && bytes(i) == Magic(i)) i += 1
      i == Magic.length
    }

  final case class Meta(width: Int, height: Int, frameSize: Int,
                        headerEnd: Int, nFrames: Int)

  /** Bound per dimension (matches ImageCodec's rationale: a hostile
    * header must not overflow the frame-size math). */
  private val MaxDim = 1 << 14

  /** Parse the stream header and count frames from the payload length.
    * Frame headers are `FRAME` + optional parameters + `\n`; every frame
    * in a stream has the same plane layout. */
  def parseMeta(bytes: Array[Byte]): Meta = {
    require(isY4m(bytes), "not a YUV4MPEG2 stream")
    var end = Magic.length
    while (end < bytes.length && bytes(end) != '\n') end += 1
    require(end < bytes.length, "unterminated y4m header")
    val header = new String(bytes, Magic.length, end - Magic.length,
      java.nio.charset.StandardCharsets.US_ASCII)
    var w = -1; var h = -1; var cs = "420"
    header.split(' ').foreach { tok =>
      if (tok.nonEmpty) tok.charAt(0) match {
        case 'W' => w = tok.drop(1).toInt
        case 'H' => h = tok.drop(1).toInt
        case 'C' => cs = tok.drop(1)
        case _ => () // F (rate), I (interlace), A (aspect), X (comment)
      }
    }
    require(w > 0 && h > 0, s"y4m header missing W/H: '$header'")
    require(w <= MaxDim && h <= MaxDim,
      s"y4m dims ${w}x$h exceed the $MaxDim-per-side bound")
    val luma = w * h
    val chroma =
      if (cs.startsWith("420")) 2 * ((w + 1) / 2) * ((h + 1) / 2)
      else if (cs.startsWith("422")) 2 * ((w + 1) / 2) * h
      else if (cs.startsWith("444")) 2 * w * h
      else if (cs.startsWith("mono")) 0
      else throw new IllegalArgumentException(s"unsupported y4m colorspace C$cs")
    val frameSize = luma + chroma
    // count frames: each is "FRAME[params]\n" + frameSize payload bytes
    var pos = end + 1
    var n = 0
    while (pos < bytes.length) {
      require(bytes.length - pos >= 6 &&
        bytes(pos) == 'F' && bytes(pos + 1) == 'R' && bytes(pos + 2) == 'A' &&
        bytes(pos + 3) == 'M' && bytes(pos + 4) == 'E',
        s"bad y4m FRAME marker at byte $pos")
      pos += 5
      while (pos < bytes.length && bytes(pos) != '\n') pos += 1
      require(pos < bytes.length, "unterminated y4m frame header")
      pos += 1
      require(bytes.length - pos >= frameSize,
        s"truncated y4m frame $n: need $frameSize bytes, have ${bytes.length - pos}")
      pos += frameSize
      n += 1
    }
    Meta(w, h, frameSize, end + 1, n)
  }

  /** Byte offset of frame `idx`'s luma plane (after its FRAME header). */
  private def frameLumaPos(bytes: Array[Byte], meta: Meta, idx: Int): Int = {
    var pos = meta.headerEnd
    var f = 0
    while (f <= idx) {
      pos += 5
      while (bytes(pos) != '\n') pos += 1
      pos += 1
      if (f < idx) pos += meta.frameSize
      f += 1
    }
    pos
  }

  /** Frame `idx`'s luma plane as a grayscale [[ImageCodec.Image]] — from
    * here the whole still-image toolkit (resize, histogram) applies. */
  def frameLuma(bytes: Array[Byte], idx: Int): ImageCodec.Image = {
    val meta = parseMeta(bytes)
    require(idx >= 0 && idx < meta.nFrames,
      s"frame $idx out of range [0, ${meta.nFrames})")
    val pos = frameLumaPos(bytes, meta, idx)
    val n = meta.width * meta.height
    val out = new Array[Float](n)
    var i = 0
    while (i < n) { out(i) = (bytes(pos + i) & 0xFF) / 255f; i += 1 }
    ImageCodec.Image(meta.width, meta.height, 1, out)
  }

  /** Temporal stats in ONE fused pass over the luma planes (chroma never
    * read): [n_frames, mean_luma, mean |Δ luma| between consecutive
    * frames]. The per-frame mean is O(w·h); the delta is of FRAME MEANS
    * (global motion/exposure change), the cheap first-order temporal
    * signal behind static-vs-motion flagging. Single-frame streams have
    * delta 0 by convention. */
  def motionStats(bytes: Array[Byte]): Array[Double] = {
    val meta = parseMeta(bytes)
    val n = meta.width * meta.height
    var pos = meta.headerEnd
    var f = 0
    var sumMean = 0.0
    var sumAbsDelta = 0.0
    var prevMean = Double.NaN
    while (f < meta.nFrames) {
      pos += 5
      while (bytes(pos) != '\n') pos += 1
      pos += 1
      var acc = 0.0
      var i = 0
      while (i < n) { acc += (bytes(pos + i) & 0xFF); i += 1 }
      val mean = acc / n / 255.0
      sumMean += mean
      if (f > 0) sumAbsDelta += math.abs(mean - prevMean)
      prevMean = mean
      pos += meta.frameSize
      f += 1
    }
    if (meta.nFrames == 0) Array(0.0, 0.0, 0.0)
    else Array(meta.nFrames.toDouble, sumMean / meta.nFrames,
      if (meta.nFrames > 1) sumAbsDelta / (meta.nFrames - 1) else 0.0)
  }

  /** Mean luma of every `stride`-th frame, one pass (the video feature
    * vector in Multimodal — frame SAMPLING, not full decode). Throws on
    * non-y4m or truncated payloads. */
  def sampleFrameMeans(bytes: Array[Byte], stride: Int): Array[Float] = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    val meta = parseMeta(bytes)
    val n = meta.width * meta.height
    val out = new scala.collection.mutable.ArrayBuffer[Float]
    var pos = meta.headerEnd
    var f = 0
    while (f < meta.nFrames) {
      pos += 5
      while (bytes(pos) != '\n') pos += 1
      pos += 1
      if (f % stride == 0) {
        var acc = 0.0
        var i = 0
        while (i < n) { acc += (bytes(pos + i) & 0xFF); i += 1 }
        out += (acc / n / 255.0).toFloat
      }
      pos += meta.frameSize
      f += 1
    }
    out.toArray
  }

  /** [[sampleFrameMeans]] for the `y4m_frame_means` kernel (null = not a
    * well-formed y4m). */
  def frameMeansOrNull(bytes: Array[Byte], stride: Int): Array[Float] =
    try sampleFrameMeans(bytes, stride)
    catch { case scala.util.control.NonFatal(_) => null }

  /** TEMPORAL perceptual signature for video near-dup (v3): per-bit
    * MAJORITY vote over the dHashes of every `stride`-th frame's luma
    * plane — one fused pass, chroma never read, 64 ints of state. Why
    * majority instead of position-wise combination: it is invariant to
    * frame ORDER and robust to frame-set edits — trimming a few leading
    * frames or a transcode's luma remap (gradient-sign preserving) moves
    * only near-tie bits, so a trimmed+re-encoded twin lands within a few
    * bits while unrelated videos stay ~32 apart (uncorrelated dHashes;
    * margins pinned in Y4mCodecSpec). Ties (exactly half the frames set
    * a bit) resolve to 0 — deterministic. Throws on non-y4m payloads
    * (the expression layer maps that to SQL null). */
  def temporalDhash(bytes: Array[Byte], stride: Int): Long = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    val meta = parseMeta(bytes)
    val n = meta.width * meta.height
    val counts = new Array[Int](64)
    var total = 0
    var pos = meta.headerEnd
    var f = 0
    while (f < meta.nFrames) {
      pos += 5
      while (bytes(pos) != '\n') pos += 1
      pos += 1
      if (f % stride == 0) {
        val luma = new Array[Float](n)
        var i = 0
        while (i < n) { luma(i) = (bytes(pos + i) & 0xFF) / 255f; i += 1 }
        val h = ImageHash.dhashOf(ImageCodec.Image(meta.width, meta.height, 1, luma))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1
          b += 1
        }
        total += 1
      }
      pos += meta.frameSize
      f += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (2 * counts(b) > total) sig |= 1L << b
      b += 1
    }
    sig
  }

  /** Boxed variant for the Catalyst expression (null = not y4m). */
  def temporalDhashOrNull(bytes: Array[Byte], stride: Int): java.lang.Long =
    try java.lang.Long.valueOf(temporalDhash(bytes, stride))
    catch { case scala.util.control.NonFatal(_) => null }

  /** Encode grayscale frames (luma in [0, 1]) as a C420 y4m stream with
    * neutral chroma — the fixture/planting side. */
  def encode(width: Int, height: Int, frames: Seq[Array[Float]]): Array[Byte] = {
    require(frames.nonEmpty, "y4m needs at least one frame")
    frames.foreach(f => require(f.length == width * height,
      s"frame has ${f.length} samples, expected ${width * height}"))
    val header = s"YUV4MPEG2 W$width H$height F25:1 Ip A1:1 C420\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val chroma = 2 * ((width + 1) / 2) * ((height + 1) / 2)
    val frameHdr = "FRAME\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val out = new java.io.ByteArrayOutputStream(
      header.length + frames.size * (frameHdr.length + width * height + chroma))
    out.write(header)
    frames.foreach { f =>
      out.write(frameHdr)
      var i = 0
      while (i < f.length) {
        out.write(math.round(math.max(0f, math.min(1f, f(i))) * 255f))
        i += 1
      }
      var c = 0
      while (c < chroma) { out.write(128); c += 1 } // neutral U/V
    }
    out.toByteArray
  }
}
