package graft.fixtures

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.audio.AudioMeta
import graft.audio.AudioSynth.mix64

/** Deterministic MIXED-CONTAINER audio table — the containered-audio
  * slice of the multimodal corpus (the audio analog of MixedImageGen /
  * MixedVideoGen): WAV payloads written by the engine's own
  * [[AudioMeta.wavWrap]], FLAC / MPEG-1-Layer-III / Ogg-Opus streams
  * written by spec-order writers below (this environment has no encoder
  * for the compressed formats — same constraint as the H.264 fixture;
  * headers are real, audio frames are deterministic filler the parsers
  * never read). Ground truth is planted by id arithmetic so the DuckDB
  * oracle states it from the id while the engine recovers it from BYTES:
  *
  *   idx = numeric id;  fmt = idx % 4 -> {wav, flac, mp3, ogg};  q = idx/4
  *   sri = q % 3;  sr = [8000,16000,44100][sri] (mp3: [44100,48000,32000])
  *   ch  = 1 + q % 2
  *   wav codec = q % 3 -> {pcm16(16-bit), ulaw(8), alaw(8)};  flac 16-bit
  *   n_samples = 400 + (q % 5) * 160   (mp3: 1152 * (2 + q % 4))
  *   mp3 bitrate index = 1 + q % 14;  opus pre-skip = 312
  *
  * Writer/reader pairs cannot drift silently: AudioMetaSpec pins each
  * format to HAND-DERIVED golden bytes from the public specs. */
object MixedAudioGen extends FixtureTable("mixedaudio", "mixed_audio",
    version = 1, minRows = 160, clipsPerRow = 10) {

  val OpusPreskip = 312

  def audioId(idx: Long): String = f"maud-$idx%08d"

  final case class MixedRow(audio_id: String, bytes: Array[Byte])

  private val Rates = Array(8000, 16000, 44100)
  private val Mp3Rates = Array(44100, 48000, 32000)
  private val Mp3Bitrates =
    Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
  private val WavCodecs = Array("pcm16", "ulaw", "alaw")

  private def filler(seed: Long, n: Int): Array[Byte] = {
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) { out(i) = (mix64(seed + i) & 0x7F).toByte; i += 1 }
    out // & 0x7F: filler never fakes an MP3/Ogg sync byte
  }

  def audioRow(idx: Long): MixedRow = {
    val q = idx / 4
    val sri = (q % 3).toInt
    val ch = 1 + (q % 2).toInt
    val ns = 400 + (q % 5).toInt * 160
    val seed = mix64(0xAD10_F11EL + idx)
    val bytes = (idx % 4) match {
      case 0 =>
        val codec = WavCodecs((q % 3).toInt)
        val bps = if (codec == "pcm16") 2 else 1
        wavBytes(filler(seed, ns * ch * bps), codec, Rates(sri), ch)
      case 1 => flacBytes(Rates(sri), ch, 16, ns, seed)
      case 2 => mp3Bytes(sri, 2 + (q % 4).toInt, 1 + (q % 14).toInt, ch == 1, seed)
      case _ => oggOpusBytes(Rates(sri), ch, OpusPreskip, ns, seed)
    }
    MixedRow(audioId(idx), bytes)
  }

  /** Mono WAVs go through the engine's own wrapper; multi-channel ones
    * through the same layout with the channel count patched (wavWrap is
    * mono by contract). */
  private def wavBytes(payload: Array[Byte], codec: String, sr: Int,
                       ch: Int): Array[Byte] = {
    val b = AudioMeta.wavWrap(payload, codec, sr)
    if (ch == 1) b
    else {
      // patch channels + derived fields in the fmt chunk (offsets per the
      // canonical 44-byte header wavWrap emits)
      val bps = if (codec == "pcm16") 2 else 1
      putU16le(b, 22, ch)
      putU32le(b, 28, sr.toLong * bps * ch)
      putU16le(b, 32, bps * ch)
      b
    }
  }

  private def putU16le(b: Array[Byte], i: Int, v: Int): Unit = {
    b(i) = (v & 0xFF).toByte; b(i + 1) = ((v >> 8) & 0xFF).toByte
  }
  private def putU32le(b: Array[Byte], i: Int, v: Long): Unit = {
    var k = 0
    while (k < 4) { b(i + k) = ((v >> (8 * k)) & 0xFF).toByte; k += 1 }
  }

  /** fLaC signature + last-flagged STREAMINFO block (xiph spec layout) +
    * filler "frames". */
  def flacBytes(sr: Int, ch: Int, bits: Int, total: Long,
                seed: Long): Array[Byte] = {
    val si = new Array[Byte](34)
    si(0) = 0x10; si(1) = 0x00 // min block 4096
    si(2) = 0x10; si(3) = 0x00 // max block 4096
    // min/max frame size (u24) left 0 = unknown
    si(10) = ((sr >> 12) & 0xFF).toByte
    si(11) = ((sr >> 4) & 0xFF).toByte
    si(12) = (((sr & 0xF) << 4) | ((ch - 1) << 1) | ((bits - 1) >> 4)).toByte
    si(13) = ((((bits - 1) & 0xF) << 4) | ((total >> 32) & 0xF).toInt).toByte
    si(14) = ((total >> 24) & 0xFF).toByte
    si(15) = ((total >> 16) & 0xFF).toByte
    si(16) = ((total >> 8) & 0xFF).toByte
    si(17) = (total & 0xFF).toByte
    // bytes 18-33: MD5 of the unencoded audio — zero (unknown)
    Array[Byte]('f', 'L', 'a', 'C', 0x80.toByte, 0, 0, 34) ++ si ++
      filler(seed, 64)
  }

  /** MPEG-1 Layer III frame sequence: real 4-byte headers (sync,
    * version=MPEG1, layer=III, bitrate/samplerate indices, channel mode),
    * deterministic filler bodies, frame length 144*bitrate/sr. */
  def mp3Bytes(srIdx: Int, frames: Int, brIdx: Int, mono: Boolean,
               seed: Long): Array[Byte] = {
    val sr = Mp3Rates(srIdx)
    val frameLen = 144 * Mp3Bitrates(brIdx) * 1000 / sr
    val out = new Array[Byte](frameLen * frames)
    var f = 0
    while (f < frames) {
      val o = f * frameLen
      out(o) = 0xFF.toByte
      out(o + 1) = 0xFB.toByte // MPEG-1, Layer III, no CRC
      out(o + 2) = ((brIdx << 4) | (srIdx << 2)).toByte // padding 0
      out(o + 3) = (if (mono) 0xC0 else 0x00).toByte
      val body = filler(seed + f, frameLen - 4)
      System.arraycopy(body, 0, out, o + 4, body.length)
      f += 1
    }
    out
  }

  /** Two Ogg pages (RFC 3533): a BOS page carrying the OpusHead packet
    * (RFC 7845: version, channels, pre-skip, input rate) and an EOS page
    * whose granule position encodes the stream length. Page CRCs are 0 —
    * the parser (like many stream scanners) does not verify them. */
  def oggOpusBytes(inputSr: Int, ch: Int, preskip: Int, ns: Long,
                   seed: Long): Array[Byte] = {
    def page(typ: Int, granule: Long, seq: Int, payload: Array[Byte]): Array[Byte] = {
      require(payload.length < 255, "single-segment fixture pages only")
      val h = new Array[Byte](27 + 1)
      h(0) = 'O'; h(1) = 'g'; h(2) = 'g'; h(3) = 'S'
      h(4) = 0; h(5) = typ.toByte
      var k = 0
      while (k < 8) { h(6 + k) = ((granule >> (8 * k)) & 0xFF).toByte; k += 1 }
      putU32le(h, 14, 0x51DE0001L) // serial
      putU32le(h, 18, seq.toLong)
      // 22-25: crc = 0 (unverified)
      h(26) = 1; h(27) = payload.length.toByte
      h ++ payload
    }
    val head = "OpusHead".getBytes("US-ASCII") ++ Array[Byte](1, ch.toByte) ++ {
      val t = new Array[Byte](9)
      putU16le(t, 0, preskip); putU32le(t, 2, inputSr.toLong)
      t // gain u16 = 0, mapping family = 0
    }
    page(0x02, 0L, 0, head) ++ page(0x04, preskip + ns, 1, filler(seed, 60))
  }

  def rows(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(n).map(i => audioRow(i)).toDF()
  }
}
