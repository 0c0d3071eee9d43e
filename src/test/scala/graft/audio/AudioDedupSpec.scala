package graft.audio

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.fixtures.ClipGen
import graft.operators.Dedup

/** Audio near-duplicate detection. The c14 oracle asserts EXACT recall and
  * precision against planted transcoded twins; this suite measures the
  * robustness/discrimination properties that make that assertion safe
  * (parametric tone-pair key; frame-sig shingle gap), plus transcode
  * fidelity. */
class AudioDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val N = 60
  private lazy val rows = (0L until N.toLong).map(ClipGen.clipRow)

  test("transcode preserves sample count and >= 25 dB SNR vs the reference signal") {
    for (idx <- 0L until 12L) {
      val r = rows(idx.toInt)
      val target = if (r.codec == "ulaw") "alaw" else "ulaw"
      val t = AudioCodec.transcode(r.bytes, r.codec, target)
      val ref = ClipGen.referencePcm(idx)
      val dec = AudioCodec.decode(t, target)
      assert(dec.length == ref.length, s"clip $idx sample count")
      val snr = AudioCodec.snrDb(ref, dec)
      assert(snr >= 25.0, s"clip $idx ${r.codec}->$target snr=$snr")
    }
  }

  // Design note: a dominant-band-per-frame token sequence (Shazam-flavored)
  // was evaluated and REJECTED for this corpus: clips whose strongest tone
  // is constant collapse to identical shingle sets (measured organic
  // Jaccard 1.0), and 64-band global energy vectors cannot separate tones
  // 1 Hz apart (measured organic cosine 1.000000). The parametric tone
  // estimate below is the signal that actually discriminates here.
  test("tone-pair key: (sr, n, f1) exact for twins, |df2| <= 8; organic keys distinct") {
    val keys = rows.map { r =>
      val tp = AudioCodec.tonePair(r.bytes, r.codec, r.sr_hz)
      (r.sr_hz, AudioCodec.sampleCount(r.bytes.length, r.codec), tp(0), tp(1))
    }
    rows.zipWithIndex.foreach { case (r, i) =>
      val target = if (r.codec == "ulaw") "alaw" else "ulaw"
      val tw = AudioCodec.transcode(r.bytes, r.codec, target)
      val tp = AudioCodec.tonePair(tw, target, r.sr_hz)
      val (sr, n, f1, f2) = keys(i)
      assert(AudioCodec.sampleCount(tw.length, target) == n, s"clip $i n")
      assert(tp(0) == f1, s"clip $i f1: ${tp(0)} != $f1")
      assert(math.abs(tp(1) - f2) <= 8, s"clip $i f2: ${tp(1)} vs $f2")
      assert(r.sr_hz == sr)
    }
    // no organic pair matches on (sr, n, f1) with |df2| <= 8
    for (i <- 0 until N; j <- (i + 1) until N) {
      val (s1, n1, a1, b1) = keys(i); val (s2, n2, a2, b2) = keys(j)
      assert(!(s1 == s2 && n1 == n2 && a1 == a2 && math.abs(b1 - b2) <= 8),
        s"organic collision $i/$j: ${keys(i)}")
    }
  }

  private def trimBytes(bytes: Array[Byte], codec: String, samples: Int): Array[Byte] = {
    val nb = if (codec == "pcm16") samples * 2 else samples
    java.util.Arrays.copyOfRange(bytes, nb, bytes.length)
  }

  test("tone key is shift-invariant: trimmed+transcoded twin keeps f1 exactly, f2 within 16 Hz") {
    rows.foreach { r =>
      val tp = AudioCodec.tonePair(r.bytes, r.codec, r.sr_hz)
      val target = if (r.codec == "ulaw") "alaw" else "ulaw"
      val tw = AudioCodec.transcode(trimBytes(r.bytes, r.codec, 160), r.codec, target)
      val tt = AudioCodec.tonePair(tw, target, r.sr_hz)
      assert(tt(0) == tp(0), s"${r.clip_id} f1 flipped under trim: ${tt(0)} != ${tp(0)}")
      assert(math.abs(tt(1) - tp(1)) <= 16,
        s"${r.clip_id} f2 drifted under trim: ${tt(1)} vs ${tp(1)}")
      assert(AudioCodec.sampleCount(tw.length, target) ==
        AudioCodec.sampleCount(r.bytes.length, r.codec) - 160)
    }
  }

  test("alignedCorr separates twins (~1) from unrelated clips (~0)") {
    for (idx <- 0 until 12) {
      val r = rows(idx)
      val target = if (r.codec == "ulaw") "alaw" else "ulaw"
      val tw = AudioCodec.transcode(trimBytes(r.bytes, r.codec, 160), r.codec, target)
      val self = AudioCodec.alignedCorr(r.bytes, r.codec, tw, target)
      assert(self >= 0.99, s"clip $idx twin corr=$self")
      val other = rows((idx + 1) % rows.length)
      val cross = AudioCodec.alignedCorr(r.bytes, r.codec, other.bytes, other.codec)
      assert(math.abs(cross) <= 0.35, s"clip $idx cross corr=$cross")
    }
  }

  test("audioNearDupShift recovers exactly the planted trimmed+transcoded pairs") {
    import spark.implicits._
    val base = rows.toDF().select("clip_id", "bytes", "codec", "sr_hz")
    val twins = rows.filter(r => r.clip_id.drop(5).toInt % 20 == 10).map { r =>
      val target = if (r.codec == "ulaw") "alaw" else "ulaw"
      (r.clip_id + "-s",
        AudioCodec.transcode(trimBytes(r.bytes, r.codec, 160), r.codec, target),
        target, r.sr_hz)
    }.toDF("clip_id", "bytes", "codec", "sr_hz")
    val got = Dedup.audioNearDupShift(base.unionByName(twins))
      .as[(String, String)].collect().toSet
    val want = rows.filter(r => r.clip_id.drop(5).toInt % 20 == 10)
      .map(r => (r.clip_id, r.clip_id + "-s")).toSet
    assert(want.nonEmpty)
    assert(got == want, s"missing: ${want.diff(got)}, extra: ${got.diff(want)}")
  }

  test("audioNearDupIncremental finds LONGER-delta twins across a duration-bucket edge") {
    // ADVICE r5 (high): the corpus keeps one primary (nb, f2b) bucket and
    // only the delta explodes adjacency. With one-sided {b, b+1} emission
    // a delta clip LONGER than its corpus twin whose sample counts
    // straddle a bucket edge (floor(n_c/W) == floor(n_d/W) - 1) shared no
    // join key and the pair was silently missed — the batch operator
    // (both sides emit adjacency) finds it, breaking c20/d8 batch parity.
    // Corpus = TRIMMED clips, delta = full-length transcodes, restricted
    // to clips that actually straddle an edge (n % 256 < 160).
    import spark.implicits._
    val bucketW = 256
    val straddlers = rows.filter { r =>
      val n = AudioCodec.sampleCount(r.bytes.length, r.codec)
      (n - 160) / bucketW < n / bucketW
    }
    assert(straddlers.size >= 5, s"fixture lost its straddlers: ${straddlers.size}")
    val corpus = straddlers.map { r =>
      (r.clip_id, trimBytes(r.bytes, r.codec, 160), r.codec, r.sr_hz)
    }.toDF("clip_id", "bytes", "codec", "sr_hz")
    val delta = straddlers.map { r =>
      val target = if (r.codec == "ulaw") "alaw" else "ulaw"
      (r.clip_id + "-l", AudioCodec.transcode(r.bytes, r.codec, target),
        target, r.sr_hz)
    }.toDF("clip_id", "bytes", "codec", "sr_hz")
    val fp = Dedup.audioFingerprints(corpus).localCheckpoint(true)
    val got = Dedup.audioNearDupIncremental(fp, corpus, delta)
      .as[(String, String)].collect().toSet
    val want = straddlers.map(r => (r.clip_id, r.clip_id + "-l")).toSet
    assert(got == want, s"missing: ${want.diff(got)}, extra: ${got.diff(want)}")
  }

  test("audioNearDupIncremental: delta-internal twins (one across a bucket edge) == batch on delta-touching pairs") {
    // The delta's own twin pairs come out of the same candidate join as
    // its corpus twins (the delta's primary buckets ride the union side):
    // a delta holding BOTH ends of a trimmed+transcoded pair — one whose
    // lengths straddle a 256-sample duration-bucket edge, one that does
    // not — plus twins of corpus rows must give exactly the batch
    // operator's pairs over corpus ∪ delta that touch the delta.
    import spark.implicits._
    val bucketW = 256
    def straddles(r: graft.fixtures.ClipRow) = {
      val n = AudioCodec.sampleCount(r.bytes.length, r.codec)
      (n - 160) / bucketW < n / bucketW
    }
    def twin(r: graft.fixtures.ClipRow) = {
      val target = if (r.codec == "ulaw") "alaw" else "ulaw"
      (r.clip_id + "-s",
        AudioCodec.transcode(trimBytes(r.bytes, r.codec, 160), r.codec, target),
        target, r.sr_hz)
    }
    def own(r: graft.fixtures.ClipRow) = (r.clip_id, r.bytes, r.codec, r.sr_hz)
    val (inCorpus, fresh) = rows.splitAt(N / 2)
    val edge = fresh.find(straddles)
    val inner = fresh.find(r => !straddles(r))
    assert(edge.nonEmpty && inner.nonEmpty, "fixture lost its straddling/inner clips")
    val internal = Seq(edge.get, inner.get)
    val corpus = inCorpus.map(own).toDF("clip_id", "bytes", "codec", "sr_hz")
    val delta = (inCorpus.filter(r => r.clip_id.drop(5).toInt % 10 == 3).map(twin) ++
      internal.flatMap(r => Seq(own(r), twin(r)))).toDF("clip_id", "bytes", "codec", "sr_hz")
    val fp = Dedup.audioFingerprints(corpus).localCheckpoint(true)
    val got = Dedup.audioNearDupIncremental(fp, corpus, delta)
      .as[(String, String)].collect().toSet
    val deltaIds = delta.select("clip_id").as[String].collect().toSet
    val want = Dedup.audioNearDupShift(corpus.unionByName(delta))
      .as[(String, String)].collect().toSet
      .filter(p => deltaIds(p._1) || deltaIds(p._2))
    assert(internal.map(r => (r.clip_id, r.clip_id + "-s")).toSet.subsetOf(got),
      s"delta-internal pair lost: $got")
    assert(got == want, s"missing: ${want.diff(got)}, extra: ${got.diff(want)}")
  }

  test("audioNearDup recovers exactly the planted twin pairs from bytes alone") {
    import spark.implicits._
    val base = rows.toDF()
      .select("clip_id", "bytes", "codec", "sr_hz")
    val twins = rows.filter(r => r.clip_id.drop(5).toInt % 20 == 0).map { r =>
      val target = if (r.codec == "ulaw") "alaw" else "ulaw"
      (r.clip_id + "-t", AudioCodec.transcode(r.bytes, r.codec, target), target, r.sr_hz)
    }.toDF("clip_id", "bytes", "codec", "sr_hz")
    val got = Dedup.audioNearDup(base.unionByName(twins))
      .as[(String, String)].collect().toSet
    val want = rows.filter(r => r.clip_id.drop(5).toInt % 20 == 0)
      .map(r => (r.clip_id, r.clip_id + "-t")).toSet
    assert(want.nonEmpty)
    assert(got == want)
  }
}
