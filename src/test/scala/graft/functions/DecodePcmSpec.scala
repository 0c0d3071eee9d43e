package graft.functions

import org.apache.spark.sql.{AnalysisException, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.audio.AudioCodec
import graft.fixtures.ClipGen
import graft.functions.GraftFunctions._

/** The per-row invariant from BASELINE.json input_hint, enforced at the
  * Catalyst-expression level: decoded PCM allclose (SNR >= 30 dB) vs the
  * generator's reference signal, plus transcript equality. */
class DecodePcmSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val clips = ClipGen.clipsDf(spark, 60).cache()

  test("decode_pcm meets SNR >= 30 dB vs reference PCM for every clip/codec") {
    val rows = clips
      .select(col("clip_id"), col("codec"),
        decode_pcm(col("bytes"), col("codec"), col("sr_hz")).as("pcm"))
      .collect()
    assert(rows.length == 60)
    rows.foreach { r =>
      val idx = r.getString(0).stripPrefix("clip-").toLong
      val got = r.getSeq[Float](2).toArray
      val ref = ClipGen.referencePcm(idx)
      val snr = AudioCodec.snrDb(ref, got)
      assert(snr >= 30.0, s"${r.getString(0)} codec=${r.getString(1)} snr=$snr")
    }
  }

  test("transcript equality: generated table carries the exact fixture transcript") {
    val rows = clips.select("clip_id", "person_idx", "transcript").collect()
    rows.foreach { r =>
      val want = graft.fixtures.Persons.transcript(
        graft.fixtures.Persons.all(r.getInt(1)))
      assert(r.getString(2) == want, s"${r.getString(0)}")
    }
  }

  test("fused pcm_rms == rms of decode_pcm output") {
    val rows = clips
      .select(col("clip_id"),
        pcm_rms(col("bytes"), col("codec")).as("fused"),
        decode_pcm(col("bytes"), col("codec"), col("sr_hz")).as("pcm"))
      .collect()
    rows.foreach { r =>
      val fused = r.getDouble(1)
      val pcm = r.getSeq[Float](2)
      val manual = math.sqrt(pcm.map(x => x.toDouble * x).sum / pcm.size)
      assert(math.abs(fused - manual) < 1e-6, s"${r.getString(0)}: $fused vs $manual")
    }
  }

  test("SQL registration: decode_pcm / pcm_rms / pcm_sample_count callable from SQL") {
    GraftFunctions.register(spark)
    clips.createOrReplaceTempView("clips_v")
    val row = spark.sql(
      """SELECT clip_id, size(decode_pcm(bytes, codec, sr_hz)) AS n,
        |       pcm_sample_count(bytes, codec) AS n2,
        |       pcm_rms(bytes, codec) AS r
        |FROM clips_v ORDER BY clip_id LIMIT 5""".stripMargin).collect()
    row.foreach { r =>
      assert(r.getInt(1) == r.getInt(2))
      assert(r.getDouble(3) > 0.0)
    }
  }

  test("pcm_tone: plan output == direct synth bytes; nulls propagate; types checked") {
    import spark.implicits._
    val rows = Seq((8000, 250000L, 1600), (44100, 1378125L, 4410),
      (16000, 3500000L, 320)).toDF("sr", "f_mhz", "n")
    val got = rows.select(col("sr"), col("f_mhz"), col("n"),
        pcm_tone(col("sr"), col("f_mhz"), col("n")).as("b"))
      .collect()
    got.foreach { r =>
      val want = graft.audio.AudioSynth.tone(r.getInt(0), r.getLong(1), r.getInt(2))
      assert(java.util.Arrays.equals(r.getAs[Array[Byte]]("b"), want),
        s"sr=${r.getInt(0)}")
    }
    val withNull = Seq((Some(8000), Option.empty[Long], Some(100)))
      .toDF("sr", "f_mhz", "n")
      .select(pcm_tone(col("sr"), col("f_mhz"), col("n"))).collect()
    assert(withNull.head.isNullAt(0))
    val e = intercept[Exception] {
      rows.select(pcm_tone(col("f_mhz"), col("f_mhz"), col("n"))).collect()
    }
    assert(e.getMessage.contains("pcm_tone") || e.getMessage.contains("DATATYPE"))
  }

  test("decode_pcm rejects wrong input types at analysis time") {
    val e = intercept[Exception] {
      clips.select(decode_pcm(col("transcript"), col("codec"), col("sr_hz"))).collect()
    }
    assert(e.getMessage.contains("decode_pcm") || e.getMessage.contains("DATATYPE"))
  }

  test("every kernel: interpreted eval == generated code; null in, null out; types checked; SQL resolves") {
    // One sample argument row per declaration. The table must cover every
    // declaration, so a new kernel cannot skip this check.
    val clip = ClipGen.clipRow(3)
    val (b, c, sr) = (clip.bytes, clip.codec, clip.sr_hz)
    val wav = graft.audio.AudioMeta.wavWrap(b, c, sr)
    val img = graft.fixtures.ImageGen.imageRow(1).bytes
    val vid = graft.fixtures.VideoGen.videoRow(1).bytes
    // VAD sample: loud tone, silence, quiet tone (frame RMS ~0.07, between
    // the 0.03 default threshold and a few times it)
    val loud = graft.audio.AudioSynth.tone(8000, 440000L, 800)
    val vad = loud ++ new Array[Byte](loud.length) ++ AudioCodec.gain(loud, "pcm16", 0.2)
    val text = "the cat sat on the mat and the dog ran in the park"
    val (va, vb) = (Array(0.1f, -0.4f, 0.9f, 0.3f), Array(0.2f, -0.1f, 0.8f, -0.5f))
    val samples: Map[String, Seq[Any]] = Map(
      "decode_pcm" -> Seq(b, c, sr), "pcm_sample_count" -> Seq(b, c),
      "pcm_rms" -> Seq(b, c), "pcm_band_energies" -> Seq(b, c, sr),
      "pcm_transcode" -> Seq(b, c, "ulaw"), "pcm_resample" -> Seq(b, c, sr, 16000),
      "pcm_tone_pair" -> Seq(b, c, sr), "pcm_aligned_corr" -> Seq(b, c, b, c),
      "pcm_gain" -> Seq(b, c, 0.5), "pcm_quality" -> Seq(b, c),
      "audio_meta" -> Seq(wav), "wav_wrap" -> Seq(b, c, sr), "wav_unwrap" -> Seq(wav),
      "pcm_segments" -> Seq(vad, "pcm16", 8000), "pcm_strip_silence" -> Seq(vad, "pcm16", 8000),
      "pcm_tone" -> Seq[Any](8000, 440000L, 800),
      "tone_band_energies" -> Seq[Any](8000, 440000L, 800, 8000),
      "ppm_luma_mean" -> Seq(img), "image_meta" -> Seq(img),
      "image_luma_mean" -> Seq(img), "image_dhash" -> Seq(img),
      "video_meta" -> Seq(vid), "y4m_temporal_dhash" -> Seq(vid),
      "y4m_motion_stats" -> Seq(vid), "image_thumb" -> Seq(img), "y4m_frame_means" -> Seq(vid),
      "rel_url" -> Seq("http://a.example/x/y", "../z"), "lang_id" -> Seq(text),
      "lang_id_ngram" -> Seq(text), "jaccard_sim" -> Seq(text, "the cat sat on the mat"),
      "portable_bucket" -> Seq(text, 7), "sim_hash" -> Seq(text),
      "min_hash" -> Seq(text, 4), "winnow_fp" -> Seq(text), "go_title" -> Seq(text),
      "cosine_sim" -> Seq(va, vb), "qcosine_sim" -> Seq(va, vb),
      "vec_lsh_bucket" -> Seq(va, 8), "vec_lsh_buckets" -> Seq(va, 8, 3),
      "hash_comb_keys" -> Seq(0x123456789abcdefL),
      "extract_attr" -> Seq(clip.transcript, "phone", "text"),
      "nearest_centroid" -> Seq(va), "nearest_centroids" -> Seq(va),
      "pq_encode" -> Seq(va), "pq_lut" -> Seq(va),
      "pq_adc" -> Seq(Array(1, 0), Array(0.5f, 0.25f, 2f, 1f)))
    assert(samples.keySet == Kernels.All.map(_.name).toSet)

    def catalyst(v: Any): Any = v match {
      case s: String => UTF8String.fromString(s)
      case a: Array[Float] => org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(a)
      case a: Array[Int] => org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(a)
      case other => other
    }
    def scalaValue(v: Any, t: DataType): Any = norm(CatalystTypeConverters.convertToScala(v, t))
    def norm(v: Any): Any = v match {
      case a: Array[Byte] => a.toSeq
      case r: Row => r.toSeq.map(norm)
      case s: Iterable[_] => s.map(norm).toSeq
      case other => other
    }
    def argType(in: Kernel.In): DataType = in.dataType match {
      case ArrayType(e, _) => ArrayType(e, containsNull = false)
      case t => t
    }

    // literal inputs stay literals; the others are bound row columns
    def call(k: Kernel, values: Seq[Any], nullable: Boolean = true) =
      KernelCall(k, k.inputs.zip(values).zipWithIndex.map {
        case ((in, v), i) =>
          if (in.literal) Literal(catalyst(v), argType(in))
          else BoundReference(i, argType(in), nullable)
      }.toIndexedSeq)
    def generatedValue(e: KernelCall, row: InternalRow): Any = {
      val out = GenerateUnsafeProjection.generate(Seq(e))(row)
      scalaValue(if (out.isNullAt(0)) null else out.get(0, e.dataType), e.dataType)
    }

    for (k <- Kernels.All) {
      val args = samples(k.name)
      val e = call(k, args)
      val row = InternalRow.fromSeq(args.map(catalyst))
      val interpreted = e.eval(row)
      assert(interpreted != null, s"${k.name} returned null on a valid sample")
      // generated code with nullable and with non-nullable arguments
      for (gen <- Seq(e, call(k, args, nullable = false)))
        assert(scalaValue(interpreted, k.result) == generatedValue(gen, row),
          s"${k.name}: interpreted and generated results differ")
      // null in, null out, on both paths (the first input is never a literal)
      val nullRow = InternalRow.fromSeq(null +: args.tail.map(catalyst))
      assert(e.eval(nullRow) == null, s"${k.name}: eval of a null input")
      assert(generatedValue(e, nullRow) == null, s"${k.name}: codegen of a null input")
      // a wrong input type, or a column where a literal is required, fails analysis
      val lits = k.inputs.zip(args).map { case (in, v) => Literal(catalyst(v), argType(in)) }
      val wrong = Literal(true) +: lits.tail
      intercept[AnalysisException](
        spark.range(1).select(GraftFunctions.toColumn(KernelCall(k, wrong.toIndexedSeq))))
      k.inputs.zipWithIndex.filter(_._1.literal).foreach { case (_, i) =>
        intercept[AnalysisException](spark.range(1).select(GraftFunctions.toColumn(
          KernelCall(k, lits.updated(i, GraftFunctions.toExpr(col("id").cast("int")))
            .toIndexedSeq))))
      }
    }

    // every SQL-surface name resolves through spark.sql
    GraftFunctions.register(spark)
    for (k <- Kernels.Sql) {
      val args = samples(k.name)
      val view = spark.range(1).select(k.inputs.zip(args).zipWithIndex.map {
        case ((in, v), i) => GraftFunctions.toColumn(Literal(catalyst(v), argType(in))).as(s"a$i")
      }: _*)
      view.createOrReplaceTempView("kernel_args")
      val sqlArgs = k.inputs.zip(args).zipWithIndex.map {
        case ((in, v), i) => if (in.literal) v.toString else s"a$i"
      }
      val got = spark.sql(s"SELECT ${k.name}(${sqlArgs.mkString(", ")}) FROM kernel_args")
        .collect().head.get(0)
      val want = call(k, args).eval(InternalRow.fromSeq(args.map(catalyst)))
      assert(norm(got) == scalaValue(want, k.result), s"${k.name} via SQL")
      // one argument too few or one too many fails analysis
      for (wrong <- Seq(sqlArgs.init, sqlArgs :+ sqlArgs.last))
        intercept[AnalysisException](
          spark.sql(s"SELECT ${k.name}(${wrong.mkString(", ")}) FROM kernel_args"))
    }
    assert(GraftFunctions.sqlFunctions.map(_._1) == Kernels.Sql.map(_.name))
    assert(GraftFunctions.sqlFunctions.map(_._1).distinct.length == 34)
  }
}
