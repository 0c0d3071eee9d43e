package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftbridge.Bridge

import graft.functions.{Kernels => K}

/** The engine's Column functions: one wrapper per [[Kernels]]
  * declaration, the HLL aggregate, and the SQL surface. */
object GraftFunctions {
  /** Expression -> Column bridge (Spark 4 classic API). */
  def toColumn(e: Expression): Column = Bridge.column(e)
  def toExpr(c: Column): Expression = Bridge.expression(c)

  def decode_pcm(bytes: Column, codec: Column, srHz: Column): Column =
    K.DecodePcm(bytes, codec, srHz)
  def pcm_sample_count(bytes: Column, codec: Column): Column = K.PcmSampleCount(bytes, codec)
  def pcm_rms(bytes: Column, codec: Column): Column = K.PcmRms(bytes, codec)
  def pcm_band_energies(bytes: Column, codec: Column, srHz: Column,
                        nBands: Int = 8): Column =
    K.PcmBandEnergies.withConsts(nBands)(bytes, codec, srHz)
  def audio_meta(bytes: Column): Column = K.AudioMeta(bytes)
  def wav_unwrap(bytes: Column): Column = K.WavUnwrap(bytes)
  def wav_wrap(bytes: Column, codec: Column, srHz: Column): Column =
    K.WavWrap(bytes, codec, srHz)
  def pcm_segments(bytes: Column, codec: Column, srHz: Column,
                   frameMs: Int = 50, rmsThreshold: Double = 0.03): Column =
    K.PcmSegments.withConsts(frameMs, rmsThreshold)(bytes, codec, srHz)
  def pcm_strip_silence(bytes: Column, codec: Column, srHz: Column,
                        frameMs: Int = 50, rmsThreshold: Double = 0.03): Column =
    K.PcmStripSilence.withConsts(frameMs, rmsThreshold)(bytes, codec, srHz)
  def pcm_transcode(bytes: Column, codec: Column, target: Column): Column =
    K.PcmTranscode(bytes, codec, target)
  def pcm_resample(bytes: Column, codec: Column, srcHz: Column, dstHz: Column): Column =
    K.PcmResample(bytes, codec, srcHz, dstHz)
  def pcm_tone_pair(bytes: Column, codec: Column, srHz: Column): Column =
    K.PcmTonePair(bytes, codec, srHz)
  def pcm_aligned_corr(bytesA: Column, codecA: Column,
                       bytesB: Column, codecB: Column): Column =
    K.PcmAlignedCorr(bytesA, codecA, bytesB, codecB)
  def pcm_tone(srHz: Column, fMilliHz: Column, n: Column): Column = K.PcmTone(srHz, fMilliHz, n)
  def pcm_gain(bytes: Column, codec: Column, gain: Column): Column = K.PcmGain(bytes, codec, gain)
  def pcm_quality(bytes: Column, codec: Column): Column = K.PcmQuality(bytes, codec)

  def ppm_luma_mean(bytes: Column): Column = K.PpmLumaMean(bytes)
  def y4m_motion_stats(bytes: Column): Column = K.Y4mMotionStats(bytes)
  def y4m_temporal_dhash(bytes: Column, stride: Int = 1): Column =
    K.Y4mTemporalDhash.withConsts(stride)(bytes)
  def image_meta(bytes: Column): Column = K.ImageMeta(bytes)
  def image_luma_mean(bytes: Column): Column = K.ImageLumaMean(bytes)
  def video_meta(bytes: Column): Column = K.VideoMeta(bytes)
  def image_dhash(bytes: Column): Column = K.ImageDhash(bytes)

  /** HLL register-file aggregate (see [[HllRegistersAgg]]); use inside
    * groupBy(...).agg(...). */
  def hll_registers(c: Column, p: Int = 12): Column =
    toColumn(HllRegistersAgg(toExpr(c), p).toAggregateExpression())

  def lang_id(text: Column): Column = K.LangId(text)
  def lang_id_ngram(text: Column): Column = K.LangIdNgram(text)
  def rel_url(base: Column, rel: Column): Column = K.RelUrl(base, rel)
  def sim_hash(text: Column): Column = K.SimHash(text)
  def jaccard_sim(a: Column, b: Column): Column = K.JaccardSim(a, b)
  def portable_bucket(s: Column, n: Column): Column = K.PortableBucket(s, n)
  def min_hash(text: Column, k: Column): Column = K.MinHash(text, k)
  def winnow_fp(text: Column): Column = K.WinnowFp(text)
  def cosine_sim(a: Column, b: Column): Column = K.CosineSim(a, b)
  def qcosine_sim(a: Column, b: Column): Column = K.QCosineSim(a, b)
  def vec_lsh_bucket(v: Column, nBits: Column): Column = K.VecLshBucket(v, nBits)
  def vec_lsh_buckets(v: Column, nBits: Column, nTables: Column): Column =
    K.VecLshBuckets(v, nBits, nTables)

  /** The SQL surface — (name, implementing class, builder) for every
    * [[Kernels.Sql]] kernel. [[register]] and `graft.plans.GraftExtensions`
    * both install it. */
  val sqlFunctions: Seq[(String, String, Seq[Expression] => Expression)] =
    K.Sql.map(k => (k.name, classOf[KernelCall].getName,
      (es: Seq[Expression]) => KernelCall(k, es.toIndexedSeq): Expression))

  /** Register graft functions for SQL use in this session. Idempotent. A
    * name the session already maps to the same class (a session built
    * with `GraftExtensions`) is left alone, so re-registering does not
    * log a replacement warning per function. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlFunctions.foreach { case (name, className, build) =>
      if (!reg.lookupFunction(FunctionIdentifier(name)).exists(_.getClassName == className))
        reg.createOrReplaceTempFunction(name, build, "scala_udf")
    }
  }
}
