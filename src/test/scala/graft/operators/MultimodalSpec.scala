package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("partition-batched media feature extraction: schema, shapes, determinism") {
    val assets = Multimodal.syntheticAssets(spark, 60)
    val feats = Multimodal.extractFeatures(assets).collect().sortBy(_.asset_id)
    assert(feats.length == 60)
    feats.foreach { f =>
      f.kind match {
        case "audio" =>
          assert(f.feature.length == 8) // 8 filterbank bands
          assert(f.feature.exists(_ > 0f))
        case "image" =>
          assert(f.feature.length == 64 && f.out_width == 8 && f.out_height == 8)
        case "video" =>
          assert(f.n_sampled_frames == 8) // 32 frames / stride 4
      }
    }
    // deterministic across runs and partitioning
    val again = Multimodal.extractFeatures(assets.repartition(7)).collect().sortBy(_.asset_id)
    assert(again.map(_.feature.toSeq).toSeq == feats.map(_.feature.toSeq).toSeq)
  }

  test("audio features are container-aware: WAV == raw; compressed falls back") {
    val raw = graft.audio.AudioCodec.encode(
      graft.audio.AudioSynth.synth(11L, 8000, 4000), "ulaw")
    val wav = graft.audio.AudioMeta.wavWrap(raw, "ulaw", 8000)
    val flac = graft.fixtures.MixedAudioGen.flacBytes(8000, 1, 16, 4000L, 5L)
    val assets = Seq(
      Multimodal.MediaAsset("a-raw", "audio", raw, 0, 0, 0, "ulaw"),
      // containered twin: codec metadata poisoned — the header must win
      Multimodal.MediaAsset("a-wav", "audio", wav, 0, 0, 0, "unknown"),
      Multimodal.MediaAsset("a-flac", "audio", flac, 0, 0, 0, "unknown"))
      .toDS()
    val f = Multimodal.extractFeatures(assets).collect()
      .map(x => x.asset_id -> Option(x.feature).map(_.toSeq)).toMap
    assert(f("a-wav") == f("a-raw") && f("a-raw").exists(_.length == 8),
      "wav-wrapped audio diverged from its raw twin")
    // no FLAC decoder: a null feature, not a made-up vector
    assert(f("a-flac").isEmpty, s"compressed container got a feature: ${f("a-flac")}")
  }

  test("image features use the REAL netpbm path, not the stub") {
    import graft.image.ImageCodec
    // a constant mid-gray PPM must produce a constant mid-gray thumbnail —
    // the stub (content-hash pseudo-pixels) cannot produce this
    val gray = ImageCodec.encode(ImageCodec.Image(64, 48, 3,
      Array.fill(64 * 48 * 3)(128f / 255f)))
    val asset = Multimodal.MediaAsset("img-const", "image", gray, 64, 48, 1, "ppm")
    val Array(f) = Multimodal.extractFeatures(
      spark.createDataset(Seq(asset))).collect()
    assert(f.out_width == 8 && f.out_height == 8 && f.feature.length == 64)
    assert(f.feature.forall(p => math.abs(p - 128f / 255f) < 1e-6))
    // and the thumbnail equals ImageCodec applied directly (end-to-end parity)
    val direct = ImageCodec.resizeBilinear(
      ImageCodec.toLuma(ImageCodec.decode(gray)), 8, 8).pixels
    assert(f.feature.toSeq == direct.toSeq)
    // bytes no decoder claims (a truncated JPEG, plain text) get a null
    // feature and no thumbnail dimensions
    val undecodable = Seq(
      Multimodal.MediaAsset("img-jpg", "image",
        Array[Byte](-1, -40, -1, -32, 1, 2, 3), 64, 48, 1, "jpeg"),
      Multimodal.MediaAsset("img-txt", "image",
        "not an image".getBytes("US-ASCII"), 64, 48, 1, "ppm"))
    Multimodal.extractFeatures(spark.createDataset(undecodable)).collect().foreach { s =>
      assert(s.feature == null && s.out_width == 0 && s.out_height == 0 &&
        s.n_sampled_frames == 0, s.asset_id)
    }
  }

  test("video features use the REAL y4m path, not the stub") {
    import graft.image.Y4mCodec
    // a constant-luma y4m: every sampled-frame mean equals that luma —
    // the stub (byte-length-hash frame signatures) cannot produce this
    val const = Y4mCodec.encode(16, 12, Seq.fill(8)(Array.fill(16 * 12)(0.25f)))
    val asset = Multimodal.MediaAsset("vid-const", "video", const, 16, 12, 8, "y4m")
    val Array(f) = Multimodal.extractFeatures(
      spark.createDataset(Seq(asset))).collect()
    assert(f.n_sampled_frames == 2) // 8 frames / stride 4
    assert(f.feature.forall(m => math.abs(m - 0.25f) < 2e-3), f.feature.toSeq.toString)
    // a corrupt payload claiming the y4m magic, and compressed H.264 (no
    // decoder), get a null feature and no sampled frames
    val undecodable = Seq(
      Multimodal.MediaAsset("vid-bad", "video",
        "YUV4MPEG2 W4 H4 F25:1 C420\nFRAME\nxx".getBytes("US-ASCII"), 4, 4, 8, "y4m"),
      Multimodal.MediaAsset("vid-h264", "video",
        graft.image.SpsWriter.annexB(100, 31, 640, 360), 640, 360, 8, "h264"))
    Multimodal.extractFeatures(spark.createDataset(undecodable)).collect().foreach { sb =>
      assert(sb.feature == null && sb.n_sampled_frames == 0 && sb.out_width == 0, sb.asset_id)
    }
  }

  test("an unknown kind fails the query instead of yielding a null feature") {
    val odd = Multimodal.MediaAsset("x-1", "hologram", Array[Byte](1, 2, 3), 1, 1, 1, "raw")
    val e = intercept[Exception] {
      Multimodal.extractFeatures(spark.createDataset(Seq(odd))).collect()
    }
    assert(e.getMessage.contains("unknown kind: hologram"), e.getMessage)
  }
}
