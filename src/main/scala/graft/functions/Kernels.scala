package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import graft.audio.AudioCodec
import graft.functions.Kernel.{FloatTable, In}

/** Every scalar kernel of the engine, one declaration each: the engine's
  * name -> function table (the reference's filter registry,
  * `scrape/scrape.go:87-132`, for native Catalyst kernels). [[KernelCall]]
  * turns a declaration into a codegen'd Catalyst expression;
  * [[GraftFunctions]] wraps each as a Column function, and [[Sql]] is the
  * list `GraftFunctions.register` and `GraftExtensions` install.
  *
  * Adding a kernel is one declaration here (plus a [[GraftFunctions]]
  * wrapper, and an entry in [[Sql]] if SQL should see it). */
object Kernels {
  private val bin = In(BinaryType)
  private val str = In(StringType)
  private val int = In(IntegerType)
  private val intLit = In(IntegerType, literal = true)
  private val long = In(LongType)
  private val dbl = In(DoubleType)
  private val vec = In(ArrayType(FloatType))
  private val ints = ArrayType(IntegerType, containsNull = false)
  private val floats = ArrayType(FloatType, containsNull = false)
  private val longs = ArrayType(LongType, containsNull = false)
  private val doubles = ArrayType(DoubleType, containsNull = false)
  private def row(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })

  // ------------------------------------------------------------- audio

  /** `decode_pcm(bytes, codec, sr_hz) -> array<float>` — the
    * Catalyst-native codec expression mandated by the north star: the
    * analog of the reference's heavy per-row render/transcode path
    * (`fetch/fetcher.go:284-373`, `fetch/utf8encoding.go:13-32`) as a real Catalyst
    * expression with codegen (a static call inside whole-stage codegen,
    * no UDF serialization, no Row boxing).
    *
    * `sr_hz` is part of the logical signature (a decode must know its
    * clock) but byte->float companding is rate-independent for these
    * codecs. */
  val DecodePcm = Kernel("decode_pcm", Seq(bin, str, int), floats,
    "graft.functions.PcmCalls.decode")

  /** `pcm_sample_count(bytes, codec) -> int` — sample count without
    * decoding (cheap length math; used for pushdown-friendly stats
    * columns). */
  val PcmSampleCount = Kernel("pcm_sample_count", Seq(bin, str), IntegerType,
    "graft.functions.PcmCalls.sampleCount")

  /** `pcm_rms(bytes, codec) -> double` — fused decode + RMS in one pass,
    * no intermediate array (the codegen-friendly fast path; `decode_pcm` +
    * higher-order `aggregate` computes the same thing ~10x slower because
    * array HOFs run boxed lambdas outside whole-stage codegen). */
  val PcmRms = Kernel("pcm_rms", Seq(bin, str), DoubleType, "graft.audio.AudioCodec.rms")

  /** `pcm_band_energies(bytes, codec, sr_hz) -> array<double>` — fused
    * decode + `nBands`-band (default 8) Goertzel filterbank (see
    * AudioCodec.bandEnergies). */
  val PcmBandEnergies = Kernel("pcm_band_energies", Seq(bin, str, int), doubles,
    "graft.audio.AudioCodec.bandEnergies", consts = Seq(8))

  /** `pcm_transcode(bytes, codec, target) -> binary` — fused decode +
    * re-encode (sample count preserved; see AudioCodec.transcode). The
    * ChromeFetcher-style heavy per-row transform as a codegen'd
    * expression. */
  val PcmTranscode = Kernel("pcm_transcode", Seq(bin, str, str), BinaryType,
    "graft.audio.AudioCodec.transcode")

  /** `pcm_resample(bytes, codec, src_hz, dst_hz) -> binary` —
    * windowed-sinc sample-rate conversion to pcm16@dst (see
    * AudioCodec.resample): the mixed-rate-corpus normalization step, fused
    * decode+filter+encode in the scan stage.
    *
    * Output contract: the length floor(n*dst/src) is integer-exact
    * (oracle-statable) and signal fidelity is SNR >= 30 dB against the
    * ideal resampled signal. The bytes are NOT part of the contract: the
    * 4-accumulator interior sum and the upsampling identity-phase shortcut
    * can move an output sample by up to 1 LSB between versions. Stored
    * outputs and oracles pin length and SNR, never bytes. */
  val PcmResample = Kernel("pcm_resample", Seq(bin, str, int, int), BinaryType,
    "graft.audio.AudioCodec.resample")

  /** `pcm_tone_pair(bytes, codec, sr_hz) -> array<int>` — the two
    * strongest tones in integer Hz (see AudioCodec.tonePair): the
    * parametric acoustic fingerprint behind audio near-dup detection. */
  val PcmTonePair = Kernel("pcm_tone_pair", Seq(bin, str, int), ints,
    "graft.audio.AudioCodec.tonePair")

  /** `pcm_aligned_corr(bytes_a, codec_a, bytes_b, codec_b) -> double` —
    * normalized cross-correlation with the shorter clip aligned at the
    * length difference (see AudioCodec.alignedCorr): the exact verify
    * stage of shift-robust audio near-dup, run on candidate pairs only. */
  val PcmAlignedCorr = Kernel("pcm_aligned_corr", Seq(bin, str, bin, str), DoubleType,
    "graft.audio.AudioCodec.alignedCorr")

  /** `pcm_gain(bytes, codec, gain) -> binary` — decode, scale, re-encode
    * with the same codec (hard-clips at full scale; see AudioCodec.gain).
    * Planting tool for quality-scoring ground truth: gain 0 = digital
    * silence, large gain = a clipped copy. */
  val PcmGain = Kernel("pcm_gain", Seq(bin, str, dbl), BinaryType,
    "graft.audio.AudioCodec.gain")

  /** `pcm_quality(bytes, codec) -> array<double>` — fused single-pass
    * quality metrics [silence_ratio, clipping_ratio, peak, rms] (see
    * AudioCodec.quality): the audio analog of the text quality ratios,
    * feeding silent/clipped-clip filters in a training-data pipeline. */
  val PcmQuality = Kernel("pcm_quality", Seq(bin, str), doubles,
    "graft.audio.AudioCodec.quality")

  /** `audio_meta(bytes)` -> struct(format, sr_hz, channels, bits,
    * n_samples) — library-free container metadata for WAV / FLAC /
    * MPEG-1-Layer-III / Ogg-Opus payloads (the audio analog of
    * `image_meta` and `video_meta`; see [[graft.audio.AudioMeta]]). Null
    * on unsupported or malformed payloads — row-level quality, never a
    * job failure. */
  val AudioMeta = Kernel("audio_meta", Seq(bin),
    row("format" -> StringType, "sr_hz" -> IntegerType, "channels" -> IntegerType,
      "bits" -> IntegerType, "n_samples" -> LongType),
    "graft.audio.AudioMeta.metaRow")

  /** `wav_wrap(bytes, codec, sr_hz) -> binary` — wrap raw codec bytes
    * (mono) into a standard WAV file (PCM / G.711 A-law / mu-law format
    * tags): the write half of containered interchange; see
    * [[graft.audio.AudioMeta.wavWrap]]. */
  val WavWrap = Kernel("wav_wrap", Seq(bin, str, int), BinaryType,
    "graft.audio.AudioMeta.wavWrap")

  /** `wav_unwrap(bytes)` -> struct(codec, sr_hz, payload) — strip a mono
    * WAV container whose format tag maps to this engine's codec set (PCM /
    * G.711 A-law / mu-law), yielding raw bytes ready for decode_pcm and
    * every pcm_* kernel: real containered ingest, not metadata-only. Null
    * for non-WAV, multi-channel, or unsupported format tags. */
  val WavUnwrap = Kernel("wav_unwrap", Seq(bin),
    row("codec" -> StringType, "sr_hz" -> IntegerType, "payload" -> BinaryType),
    "graft.audio.AudioMeta.unwrapRow")

  /** `pcm_segments(bytes, codec, sr_hz)` ->
    * `array<struct<seg_start_ms:int, seg_end_ms:int>>` — fused decode +
    * energy voice-activity segmentation on a `frameMs` (default 50) frame
    * grid (silence stripping / speech-span extraction, the audio curation
    * staple). See [[graft.audio.AudioCodec.segmentsMs]] for the exact
    * contract: frames are voiced iff frame RMS >= `rmsThreshold` (default
    * 0.03), maximal voiced runs become segments, and the trailing partial
    * frame is dropped so the output is an integer-exact function of (n,
    * sr, frameMs) and frame voicedness — which is what makes the operator
    * ORACLE-able from byte arithmetic. */
  val PcmSegments = Kernel("pcm_segments", Seq(bin, str, int),
    ArrayType(row("seg_start_ms" -> IntegerType, "seg_end_ms" -> IntegerType),
      containsNull = false),
    "graft.functions.PcmCalls.segments", consts = Seq[Any](50, 0.03))

  /** `pcm_strip_silence(bytes, codec, sr_hz) -> binary` — silence
    * removal: the bytes of the voiced frames (same grid/threshold
    * constants as `pcm_segments`), spliced without re-encoding. Codec and
    * rate are preserved; output length is frame-exact, so the transform
    * carries a byte-arithmetic length oracle (c19). */
  val PcmStripSilence = Kernel("pcm_strip_silence", Seq(bin, str, int), BinaryType,
    "graft.audio.AudioCodec.stripSilence", consts = Seq[Any](50, 0.03))

  /** `pcm_tone(sr_hz, f_milli_hz, n) -> binary` — pure-sine pcm16
    * synthesis (amp 0.5). The planted-contract generator for the c10
    * band-argmax oracle: frequency is taken in milli-Hz so Goertzel band
    * centers ((2b+1)*sr/32, e.g. 2756.25 Hz at 44.1k) are exact integers
    * in both the Spark plan and the DuckDB oracle's arithmetic.
    *
    * Output contract: the length is exactly n samples (2n bytes) and the
    * tone has SNR >= 30 dB against the ideal sine. The bytes are NOT part
    * of the contract: the phasor synthesis can move a sample by up to
    * 1 LSB between versions, so stored outputs and oracles pin length and
    * SNR (or a property like the band argmax), never bytes. */
  val PcmTone = Kernel("pcm_tone", Seq(int, long, int), BinaryType,
    "graft.audio.AudioSynth.tone")

  /** `tone_band_energies(sr_tone, f_milli_hz, n, sr_band)` ->
    * array<double> — the FUSED form of `pcm_band_energies(pcm_tone(sr, f,
    * n), 'pcm16', sr)`, produced by the [[graft.plans.ToneBandFusion]]
    * optimizer rule (never written by hand in a query): bit-identical
    * output (see [[graft.audio.AudioCodec.toneBandEnergies]]) without
    * materializing and re-parsing the synthesized pcm16 byte array. */
  val ToneBandEnergies = Kernel("tone_band_energies", Seq(int, long, int, int), doubles,
    "graft.audio.AudioCodec.toneBandEnergies", consts = Seq(8))

  // ------------------------------------------------------ image / video

  /** `ppm_luma_mean(bytes) -> double` — mean BT.601 luma of an
    * uncompressed netpbm (P5/P6) payload in one fused pass over the raster
    * bytes (no pixel array materialized; see graft.image.ImageCodec.lumaMean).
    * The image modality's scan-stage quality reduction, sibling of the
    * audio side's `pcm_quality`. */
  val PpmLumaMean = Kernel("ppm_luma_mean", Seq(bin), DoubleType,
    "graft.image.ImageCodec.lumaMean")

  /** `image_meta(bytes) -> struct(format, width, height, channels,
    * bit_depth)` — LIBRARY-FREE header metadata for compressed and
    * uncompressed image payloads (JPEG SOF marker walk, PNG IHDR, GIF
    * screen descriptor, BMP info header, netpbm; see
    * graft.image.ImageMeta). Null for unparseable/unknown payloads —
    * row-level data quality, never a job failure. Runs in the scan stage
    * at header-walk cost (no pixel decoded), so dimension/format stats and
    * filters over a 100 TB image column cost a metadata pass, not a decode
    * pass. */
  val ImageMeta = Kernel("image_meta", Seq(bin),
    row("format" -> StringType, "width" -> IntegerType, "height" -> IntegerType,
      "channels" -> IntegerType, "bit_depth" -> IntegerType),
    "graft.image.ImageMeta.metaRow")

  /** `image_luma_mean(bytes) -> double` — mean BT.601 luma of ANY
    * supported image payload: netpbm through the fused raster pass (no
    * pixel array), JPEG/PNG/GIF/BMP through the JDK decoder
    * (graft.image.JdkImageCodec — java.desktop, no external jars). Null
    * when undecodable. The compressed-modality sibling of
    * `ppm_luma_mean`. */
  val ImageLumaMean = Kernel("image_luma_mean", Seq(bin), DoubleType,
    "graft.image.ImageMeta.lumaMeanAny")

  /** `image_dhash(bytes) -> bigint` — 64-bit perceptual difference-hash
    * of ANY supported image payload (netpbm direct; JPEG/PNG/GIF/BMP via
    * the JDK decoder): decode -> luma -> 9x8 bilinear thumb -> neighbor
    * comparisons (graft.image.ImageHash). The scan-stage signature behind
    * cross-format image near-dup — only (id, hash) rides the candidate
    * shuffle. Null when undecodable. */
  val ImageDhash = Kernel("image_dhash", Seq(bin), LongType,
    "graft.image.ImageHash.dhashOrNull")

  /** `video_meta(bytes) -> struct(codec, profile_idc, level_idc, width,
    * height)` — LIBRARY-FREE video metadata: YUV4MPEG2 header parse (the
    * real-decode container) or H.264 Annex-B SPS walk (Exp-Golomb,
    * emulation-prevention removal, crop-exact dimensions — see
    * graft.image.H264Meta; the video analog of `image_meta`). Null when
    * neither claims the payload. Header-walk cost in the scan stage; no
    * frame decoded. */
  val VideoMeta = Kernel("video_meta", Seq(bin),
    row("codec" -> StringType, "profile_idc" -> IntegerType, "level_idc" -> IntegerType,
      "width" -> IntegerType, "height" -> IntegerType),
    "graft.image.H264Meta.metaRow")

  /** `y4m_temporal_dhash(bytes) -> bigint` — 64-bit temporal perceptual
    * signature of a YUV4MPEG2 payload: per-bit majority over the luma
    * dHash of every `stride`-th frame (default 1;
    * graft.image.Y4mCodec.temporalDhash, one fused pass). The scan-stage
    * signature behind video near-dup (v3) — robust to leading trims and
    * transcode-style luma remaps; only (id, hash) rides the candidate
    * shuffle. Null when not y4m. */
  val Y4mTemporalDhash = Kernel("y4m_temporal_dhash", Seq(bin), LongType,
    "graft.image.Y4mCodec.temporalDhashOrNull", consts = Seq(1))

  /** `y4m_motion_stats(bytes) -> array<double>` — [n_frames, mean_luma,
    * mean |Δ frame-mean luma|] of an uncompressed YUV4MPEG2 payload in one
    * fused pass over the luma planes (chroma never read; see
    * graft.image.Y4mCodec.motionStats). The video modality's scan-stage
    * temporal reduction behind static-vs-motion flagging. */
  val Y4mMotionStats = Kernel("y4m_motion_stats", Seq(bin), doubles,
    "graft.image.Y4mCodec.motionStats")

  /** `image_thumb(bytes) -> array<float>` — the `outW` x `outH`
    * (default 8 x 8) bilinear luma thumbnail of ANY supported image
    * payload (netpbm direct; JPEG/PNG/GIF/BMP via the JDK decoder), the
    * image feature of [[graft.operators.Multimodal]]. Null when
    * undecodable. */
  val ImageThumb = Kernel("image_thumb", Seq(bin), floats,
    "graft.image.ImageMeta.thumbnailAny", consts = Seq(8, 8), nullableResult = true)

  /** `y4m_frame_means(bytes) -> array<float>` — mean luma of every
    * `stride`-th frame (default 4) of a YUV4MPEG2 payload (see
    * graft.image.Y4mCodec.sampleFrameMeans), the video feature of
    * [[graft.operators.Multimodal]]. Null when not a well-formed y4m. */
  val Y4mFrameMeans = Kernel("y4m_frame_means", Seq(bin), floats,
    "graft.image.Y4mCodec.frameMeansOrNull", consts = Seq(4), nullableResult = true)

  // -------------------------------------------------------------- text

  /** `rel_url(base, rel) -> string` — resolve a relative URL against a
    * base (the reference's RelUrl, `utils/utils.go:41-53`,
    * used for href/src/path attr resolution). Malformed inputs return the
    * relative string unchanged (the reference logs and continues). */
  val RelUrl = Kernel("rel_url", Seq(str, str), StringType, "graft.functions.TextOps.relUrl")

  /** `lang_id(text) -> string` — marker-stopword language-ID (see
    * TextOps.langId). */
  val LangId = Kernel("lang_id", Seq(str), StringType, "graft.functions.TextOps.langId")

  /** `lang_id_ngram(text) -> string` — the Cavnar-Trenkle trigram-profile
    * variant (see TextOps.langIdNgram); same output domain as lang_id. */
  val LangIdNgram = Kernel("lang_id_ngram", Seq(str), StringType,
    "graft.functions.TextOps.langIdNgram")

  /** `jaccard_sim(a, b) -> double` — exact word-3-gram shingle Jaccard
    * (the verify stage of MinHash-LSH near-dup). Native so the verify
    * stays inside whole-stage codegen (it runs only on candidate pairs,
    * but a UDF there would still box two full texts per row). */
  val JaccardSim = Kernel("jaccard_sim", Seq(str, str), DoubleType,
    "graft.functions.TextOps.jaccard", consts = Seq(3))

  /** `portable_bucket(s, n) -> int` — unsigned `portableHash64(s) mod n`,
    * bit-identical to DuckDB's `md5_number_lower(s) % n` (UBIGINT
    * arithmetic). The deterministic, partition-independent assignment
    * primitive behind train/val/test splitting: a pure function of the
    * row's id — stable across cluster sizes, replays, and engines. */
  val PortableBucket = Kernel("portable_bucket", Seq(str, int), IntegerType,
    "graft.functions.TextOps.portableBucket")

  /** `sim_hash(text) -> bigint` — 64-bit SimHash over whitespace tokens
    * (see TextOps.simHash). */
  val SimHash = Kernel("sim_hash", Seq(str), LongType, "graft.functions.TextOps.simHash")

  /** `min_hash(text, k) -> array<bigint>` — k MinHash values over word
    * 3-gram shingles; k must be a foldable int literal. */
  val MinHash = Kernel("min_hash", Seq(str, intLit), longs,
    "graft.functions.TextOps.minHash", consts = Seq(3))

  /** `winnow_fp(text) -> array<bigint>` — the winnowing fingerprint set
    * (window 4, sorted unsigned; see TextOps.winnowFingerprint). */
  val WinnowFp = Kernel("winnow_fp", Seq(str), longs,
    "graft.functions.TextOps.winnowFingerprint", consts = Seq(4))

  /** `go_title(text) -> string` — Go `strings.Title` parity, the
    * `capitalize` filter (F4; see DfkFilters.goTitle). */
  val GoTitle = Kernel("go_title", Seq(str), StringType, "graft.functions.DfkFilters.goTitle")

  /** `extract_attr(text, tag, attr) -> array<string>` — the SQL-facing
    * scalar form of the extraction semantics (`SELECT
    * extract_attr(transcript, 'phone', 'text') ...`): the same scanner,
    * document order and 0/1/N array as the spec-compiled plan (see
    * graft.operators.FusedExtract). */
  val ExtractAttr = Kernel("extract_attr", Seq(str, str, str),
    ArrayType(StringType, containsNull = false), "graft.operators.FusedExtract.extractAttr")

  // -------------------------------------------------------- similarity

  /** `cosine_sim(array<float>, array<float>) -> double` — float32 cosine
    * with double accumulation (see VectorOps.cosine). */
  val CosineSim = Kernel("cosine_sim", Seq(vec, vec), DoubleType,
    "graft.functions.VectorOps.cosine")

  /** `qcosine_sim(array<float>, array<float>) -> double` — the exact,
    * int-quantized cosine (see VectorOps.qcosine). */
  val QCosineSim = Kernel("qcosine_sim", Seq(vec, vec), DoubleType,
    "graft.functions.VectorOps.qcosine")

  /** `vec_lsh_bucket(array<float>, nBits) -> int` — one random-hyperplane
    * bucket code; nBits must be a foldable int literal. */
  val VecLshBucket = Kernel("vec_lsh_bucket", Seq(vec, intLit), IntegerType,
    "graft.functions.VectorOps.hyperplaneBucket")

  /** `vec_lsh_buckets(array<float>, nBits, nTables) -> array<int>` — one
    * packed hyperplane-bucket code per LSH table (multi-table
    * amplification); nBits and nTables must be foldable int literals. */
  val VecLshBuckets = Kernel("vec_lsh_buckets", Seq(vec, intLit, intLit), ints,
    "graft.functions.VectorOps.hyperplaneBuckets")

  /** `hash_comb_keys(sig) -> array<bigint>` — the wide-radius candidate
    * keys of a 64-bit signature at `maxHamming`; see [[HashCombKeysKernel]]. */
  def hashCombKeys(maxHamming: Int): Kernel = Kernel("hash_comb_keys", Seq(long), longs,
    "graft.functions.HashCombKeysKernel.keys", consts = Seq(maxHamming))

  /** `nearest_centroid(vec) -> int` — the L2-nearest cell under the
    * centroid table `cents` (ties -> lowest index): IVF cell assignment,
    * see [[graft.operators.Ivf]]. */
  def nearestCentroid(cents: Array[Array[Float]]): Kernel =
    Kernel("nearest_centroid", Seq(vec), IntegerType, "graft.operators.Ivf.cellOf",
      consts = Seq(FloatTable(cents)))

  /** `nearest_centroids(vec) -> array<int>` — the `nProbe` nearest cells,
    * ascending by distance: the IVF query probe. */
  def nearestCentroids(cents: Array[Array[Float]], nProbe: Int): Kernel =
    Kernel("nearest_centroids", Seq(vec), ints, "graft.operators.Ivf.probesOf",
      consts = Seq(FloatTable(cents), nProbe))

  /** `pq_encode(vec) -> array<int>` — per-block code indices under the PQ
    * codebooks `books`; see [[graft.operators.Pq]]. */
  def pqEncode(books: Array[Array[Array[Float]]]): Kernel =
    Kernel("pq_encode", Seq(vec), ints, "graft.operators.Pq.encodeOf",
      consts = Seq(FloatTable(books)))

  /** `pq_lut(vec) -> array<float>` — the query's flattened m*k ADC lookup
    * table under `books`. */
  def pqLut(books: Array[Array[Array[Float]]]): Kernel =
    Kernel("pq_lut", Seq(vec), floats, "graft.operators.Pq.lutOf",
      consts = Seq(FloatTable(books)))

  /** `pq_adc(codes, lut) -> float` — the ADC distance: m table lookups. */
  val PqAdc = Kernel("pq_adc", Seq(In(ArrayType(IntegerType)), vec), FloatType,
    "graft.operators.Pq.adcOf")

  /** The kernels SQL sees, with their default constants. */
  val Sql: Seq[Kernel] = Seq(DecodePcm, PcmSampleCount, PcmRms, PcmBandEnergies,
    AudioMeta, WavUnwrap, WavWrap, PcmSegments, PcmStripSilence, PcmTranscode,
    PcmResample, PcmTonePair, PcmGain, PcmQuality, PpmLumaMean, Y4mMotionStats,
    ImageMeta, ImageLumaMean, VideoMeta, ImageDhash, PcmAlignedCorr, LangId,
    LangIdNgram, RelUrl, SimHash, JaccardSim, PortableBucket, MinHash, WinnowFp,
    CosineSim, QCosineSim, VecLshBucket, VecLshBuckets, ExtractAttr)

  /** Every declaration: the SQL ones plus those only Scala calls (a
    * per-table declaration over a small sample table). */
  val All: Seq[Kernel] = {
    val cents = Array(Array(0f, 0f, 0f, 0f), Array(0.2f, -0.3f, 0.8f, 0.1f), Array(1f, 1f, 1f, 1f))
    val books = Array(Array(Array(0f, 0f), Array(0.2f, -0.3f)), Array(Array(0.8f, 0.1f), Array(-1f, 1f)))
    Sql ++ Seq(PcmTone, ToneBandEnergies, Y4mTemporalDhash, GoTitle, hashCombKeys(8),
      ImageThumb, Y4mFrameMeans, nearestCentroid(cents), nearestCentroids(cents, 2),
      pqEncode(books), pqLut(books), PqAdc)
  }
}

/** Entry points for the three audio kernels whose SQL signature is not
  * an AudioCodec method's. */
object PcmCalls {
  def decode(bytes: Array[Byte], codec: String, srHz: Int): Array[Float] =
    AudioCodec.decode(bytes, codec)

  def sampleCount(bytes: Array[Byte], codec: String): Int =
    AudioCodec.sampleCount(bytes.length, codec)

  /** [s0,e0,s1,e1,...] from AudioCodec.segmentsMs as
    * array<struct<seg_start_ms, seg_end_ms>>. */
  def segments(bytes: Array[Byte], codec: String, srHz: Int,
               frameMs: Int, rmsThreshold: Double): ArrayData = {
    val flat = AudioCodec.segmentsMs(bytes, codec, srHz, frameMs, rmsThreshold)
    val rows = new Array[Any](flat.length / 2)
    var i = 0
    while (i < rows.length) {
      rows(i) = InternalRow(flat(2 * i), flat(2 * i + 1))
      i += 1
    }
    new GenericArrayData(rows)
  }
}
