package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.fixtures.ClipGen
import graft.functions.GraftFunctions._
import graft.operators.{Extraction, ExtractionSpec, FieldSpec, Windows}

/** The CEP-engine query surface over the synthesized clips table
  * (BASELINE.json input_hint shape), batch form — the streaming twins live
  * in graft.streaming and are verified by the golden/stream-parity suites.
  *
  * Oracle note: the clips table is generated (deterministically) under
  * `data/clips/<sf>/clips` as parquet ([[ClipGen.ensure]]), so the DuckDB
  * oracle reads it via read_parquet on the same files the Spark side
  * reads. Window math in the oracles is integer-millisecond (`epoch_ms`)
  * to avoid any double-precision drift vs Spark's microsecond-integer
  * windows.
  */
object ClipQueries {

  /** Driver verifies at sf0.01 — oracle paths are pinned to that scale. */
  val OracleSf = "sf0.01"
  def clipsGlob(sf: String = OracleSf): String =
    s"${ClipGen.defaultRoot}/$sf/clips/*/*/*.parquet"
  def updatesGlob(sf: String = OracleSf): String =
    s"${ClipGen.defaultRoot}/$sf/updates/*.parquet"

  /** One encoded "silence" byte per G.711 codec — the codec's own
    * encode(0) (decodes to |sample| <= 8 of int16 scale, far below any
    * voicedness threshold). Used by c18's in-query gapped construction. */
  private val UlawZeroHex =
    f"${graft.audio.AudioCodec.encode(Array(0f), graft.audio.AudioCodec.Ulaw).head & 0xFF}%02x"
  private val AlawZeroHex =
    f"${graft.audio.AudioCodec.encode(Array(0f), graft.audio.AudioCodec.Alaw).head & 0xFF}%02x"

  /** The c18/c19 planted corpus: organic clips plus, for id%20==2, a
    * '-g' "gapped" variant [500ms silence][voiced][500ms silence][voiced]
    * with the voiced span truncated to the 50ms frame grid — every VAD
    * boundary becomes a pure integer function of (octet_length, codec,
    * sr_hz) that the oracle states from byte arithmetic. Silence is the
    * codec's own encode(0), built with repeat/unhex (no UDF; `_fb` =
    * bytes per frame, sr DIV 2 samples = 500ms). */
  private def gappedCorpus(clips: DataFrame): DataFrame = {
    // r7: single-scan planting (the c14 rationale — the former
    // base.unionByName(gapped) scanned the parquet bytes column twice;
    // the conditional explode emits the identical row set in one pass).
    // The silence/voiced sub-expressions live INSIDE the when() branch —
    // a withColumn alias would be materialized for every row (Catalyst
    // only inlines cheap aliases), whereas here they are evaluated only
    // on residue-2 rows; codegen subexpression elimination dedupes the
    // repeated snippets within the branch.
    val fb = "(CAST(sr_hz DIV 20 AS BIGINT) * " +
      "(CASE WHEN codec = 'pcm16' THEN 2 ELSE 1 END))"
    val voiced = s"substring(bytes, 1, CAST(octet_length(bytes) DIV $fb * $fb AS INT))"
    val sil = s"unhex(repeat(CASE codec WHEN 'pcm16' THEN '0000' " +
      s"WHEN 'ulaw' THEN '$UlawZeroHex' ELSE '$AlawZeroHex' END, " +
      "CAST(sr_hz DIV 2 AS INT)))"
    val gappedBytes = expr(s"concat($sil, $voiced, $sil, $voiced)")
    val orig = struct(col("clip_id"), col("bytes"), col("codec"), col("sr_hz"))
    clips.select(col("clip_id"), col("bytes"), col("codec"), col("sr_hz"))
      .select(explode(
        when(expr("CAST(substr(clip_id, 6, 8) AS INT) % 20 = 2"),
          array(orig,
            struct(concat(col("clip_id"), lit("-g")).as("clip_id"),
              gappedBytes.as("bytes"), col("codec"), col("sr_hz"))))
          .otherwise(array(orig))).as("r"))
      .select("r.*")
  }

  /** The reference "persons cards" payload re-expressed (SURVEY.md §7.2.3):
    * the flagship extraction spec. */
  val cardsSpec: ExtractionSpec = ExtractionSpec("cards", Seq(
    FieldSpec("Name", "name", Seq("text", "href")),
    FieldSpec("Phones", "phone", Seq("text")),
    FieldSpec("Email", "email", Seq("text")),
    FieldSpec("Company", "company", Seq("text")),
    FieldSpec("Counter", "counter", Seq("text")),
    FieldSpec("Country", "country", Seq("text")),
    FieldSpec("City", "city", Seq("text"))))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Selector/regex field extraction over transcripts — P1/P2/D1/D2 with
    // the encode-time unwrap rule. Bit-for-bit vs the DuckDB oracle.
    "c1_extract_fields" -> ((s, dir) => {
      val clips = ClipGen.readClips(s, dir)
      Extraction(cardsSpec)(clips)
        .select(col("clip_id"),
          Extraction.encodeUnwrap(col("Name_text")).as("name_text"),
          Extraction.encodeUnwrap(col("Name_href")).as("name_href"),
          Extraction.encodeUnwrap(col("Phones_text")).as("phones_text"),
          Extraction.encodeUnwrap(col("Email_text")).as("email_text"),
          Extraction.encodeUnwrap(col("Counter_text")).as("counter_text"),
          Extraction.encodeUnwrap(col("Country_text")).as("country_text"))
        .orderBy("clip_id")
    }),

    // Tumbling event-time windows keyed (codec, sr_hz) — the pagination
    // loop re-expressed as windowed aggregation (SURVEY.md §2.11 T2).
    // Shared plan builders (graft.operators.Windows) — the streaming jobs
    // run the SAME logical plans with a watermark upstream.
    "c2_tumbling_counts" -> ((s, dir) =>
      Windows.tumblingCounts(ClipGen.readClips(s, dir))
        .orderBy("w_start_ms", "codec", "sr_hz")),

    // Sliding windows (10s / 5s slide): each row lands in 2 windows.
    "c3_sliding_counts" -> ((s, dir) =>
      Windows.slidingCounts(ClipGen.readClips(s, dir))
        .orderBy("w_start_ms", "codec")),

    // Session windows (30s gap) keyed by codec — batch session_window.
    "c4_session_windows" -> ((s, dir) =>
      Windows.sessionCounts(ClipGen.readClips(s, dir))
        .orderBy("codec", "w_start_ms")),

    // Codec-aware sample counting without decode (cheap stats path).
    "c5_pcm_stats" -> ((s, dir) => {
      ClipGen.readClips(s, dir)
        .select(col("clip_id"), col("codec"), col("sr_hz"), col("dur_ms"),
          pcm_sample_count(col("bytes"), col("codec")).as("n_samples"),
          length(col("bytes")).as("n_bytes"))
        .orderBy("clip_id")
    }),

    // The details join re-expressed in batch: clips ⟕ late transcript
    // updates on clip_id; details fields extracted from the enriched
    // transcript (J1). ~20% of clips have updates.
    "c6_join_updates" -> ((s, dir) => {
      val clips = ClipGen.readClips(s, dir).select("clip_id", "codec", "transcript")
      val updates = ClipGen.readUpdates(s, dir)
        .select(col("clip_id"), col("transcript").as("transcript2"))
      clips.join(updates, Seq("clip_id"), "left_outer")
        .select(col("clip_id"), col("codec"),
          when(col("transcript2").isNotNull, lit(1)).otherwise(lit(0)).as("updated"),
          coalesce(
            regexp_extract(col("transcript2"), "<title>([^<]*)</title>", 1),
            lit("")).as("details_title"))
        .orderBy("clip_id")
    }),

    // Decode-dependent stats via the fused Catalyst pcm_rms expression
    // (decode + reduce in one codegen'd pass — see graft.functions.Kernels.PcmRms;
    // the unfused decode_pcm + higher-order aggregate computes the same
    // value ~10x slower and is covered by the test suite). ORACLED (r6,
    // closing the last no_oracle rows) by the planted-contract
    // discipline: the exact double RMS is not SQL-portable, but a CLASS
    // with structural margins is — the synth formula bounds organic RMS
    // to [0.366, 0.514] (measured over the full sf0.01 corpus; theory:
    // the 0.40/0.30/0.18 component mix gives [0.37, 0.51]), a planted
    // gain-0 copy (-e0, residue 7) decodes to the codec's companded zero
    // (rms <= 0.0003), and a planted gain-6 copy (-e6, residue 17)
    // hard-clips through the encoder to rms in [0.866, 0.947]. Class
    // edges 0.02 / 0.69 sit >= 25% from every population at any scale,
    // so class equality == the decode+RMS kernel is right for EVERY row.
    // The numeric rms itself is pinned vs reference PCM in DecodePcmSpec.
    // r7: single-scan planting (c14 rationale) — one parquet pass
    // instead of three.
    "c7_decode_energy" -> ((s, dir) => {
      val res = substring(col("clip_id"), 6, 8).cast("int") % 20
      val orig = struct(col("clip_id"), col("bytes"), col("codec"), col("sr_hz"))
      def twin(g: Double, tag: String) =
        struct(concat(col("clip_id"), lit(tag)).as("clip_id"),
          pcm_gain(col("bytes"), col("codec"), lit(g)).as("bytes"),
          col("codec"), col("sr_hz"))
      ClipGen.readClips(s, dir)
        .select("clip_id", "bytes", "codec", "sr_hz")
        .select(explode(
          when(res === 7, array(orig, twin(0.0, "-e0")))
            .when(res === 17, array(orig, twin(6.0, "-e6")))
            .otherwise(array(orig))).as("r"))
        .select("r.*")
        .select(col("clip_id"), col("codec"),
          pcm_sample_count(col("bytes"), col("codec")).as("n_samples"),
          pcm_rms(col("bytes"), col("codec")).as("rms"))
        .select(col("clip_id"), col("codec"), col("n_samples"),
          when(col("rms") < 0.02, lit("silent"))
            .when(col("rms") > 0.69, lit("hot"))
            .otherwise(lit("voiced")).as("rms_class"))
        .orderBy("clip_id")
    }),

    // Audio feature extraction: 8-band Goertzel filterbank argmax per
    // clip (fused decode+filterbank expression). ORACLED (r6) by planted
    // band-center tones: each corpus row contributes a pure pcm16 sine
    // at its own sr's band center b = idx%8 — f = (2b+1)*sr/32, carried
    // in milli-Hz so 44.1k's 2756.25-Hz grid stays integer in both
    // engines — at the clip's own sample count. The filterbank must put
    // the energy argmax in band b with >= 90% concentration for EVERY
    // row (an exactly-centered tone responds at A^2/4 in its band and
    // <= 1e-5 of that elsewhere; AudioCodecSpec pins the margin over the
    // full (sr, band) grid; the tone synth shares no code with the
    // filterbank). Organic-signal band energies stay covered numerically
    // by AudioCodecSpec against direct DFT references.
    "c10_band_energies" -> ((s, dir) => {
      ClipGen.readClips(s, dir)
        .select(col("clip_id"), col("sr_hz"),
          (substring(col("clip_id"), 6, 8).cast("int") % 8).as("b"),
          pcm_sample_count(col("bytes"), col("codec")).as("n"))
        .withColumn("bands", pcm_band_energies(
          pcm_tone(col("sr_hz"),
            expr("CAST(2 * b + 1 AS BIGINT) * (CAST(sr_hz AS BIGINT) * 1000 DIV 32)"),
            col("n")),
          lit("pcm16"), col("sr_hz")))
        .select(col("clip_id"), col("sr_hz"),
          (expr("array_position(bands, array_max(bands))") - 1).cast("int").as("band"),
          (element_at(col("bands"), expr("CAST(array_position(bands, array_max(bands)) AS INT)")) * 10 >
            expr("aggregate(bands, 0.0d, (a, x) -> a + x)") * 9).as("concentrated"))
        .orderBy("clip_id")
    }),

    // Geo hierarchy rollup — the reference's country -> city -> persons
    // drill-down (`testserver/main.go:467-497`, A4) as a ROLLUP aggregate.
    "c11_geo_rollup" -> ((s, dir) => {
      ClipGen.readClips(s, dir)
        .withColumn("country",
          regexp_extract(col("transcript"), "<country>([^<]*)</country>", 1))
        .withColumn("city",
          regexp_extract(col("transcript"), "<city>([^<]*)</city>", 1))
        .rollup(col("country"), col("city"))
        .agg(count(lit(1)).as("n_clips"))
        .select(coalesce(col("country"), lit("ALL")).as("country"),
          coalesce(col("city"), lit("ALL")).as("city"), col("n_clips"))
        .orderBy("country", "city")
    }),

    // Policy gate (S7 robots re-expression): broadcast deny-list anti-join
    // runs BEFORE any expensive work — cheap predicate first.
    "c8_policy_gate" -> ((s, dir) => {
      import s.implicits._
      val deny = Seq("Germany", "Brazil").toDF("country")
      val withCountry = ClipGen.readClips(s, dir)
        .withColumn("country",
          regexp_extract(col("transcript"), "<country>([^<]*)</country>", 1))
      graft.operators.Enrichment.policyGate(withCountry, deny, "country")
        .groupBy(col("country")).agg(count(lit(1)).as("n_clips"))
        .orderBy("country")
    }),

    // CEP sequence pattern (A then B within T per key), the declarative
    // twin of the streaming PatternDetector: ulaw clip followed by an alaw
    // clip by the same speaker within 60 s — A matches its FIRST
    // qualifying B. Stream/batch parity asserted in PatternDetectorSpec;
    // oracled here.
    "c12_pattern_matches" -> ((s, dir) => {
      val ev = ClipGen.readClips(s, dir).select(
        col("person_idx").as("key"), col("clip_id").as("id"), col("event_time"),
        (col("codec") === "ulaw").as("is_a"), (col("codec") === "alaw").as("is_b"))
      graft.streaming.PatternDetector.detectBatch(ev, withinMs = 60000L)
        .select(col("key").cast("int").as("person_idx"), col("a_id"),
          col("a_time_ms"), col("b_id"), col("b_time_ms"), col("gap_ms"))
        .orderBy("person_idx", "a_id")
    }),

    // Custom-state sessionization (T5/T6), the declarative twin of the
    // streaming SessionTracker (flatMapGroupsWithState): per-speaker
    // sessions closing after a 30 s event-time gap — gap-islands plan,
    // stream/batch parity asserted in SessionTrackerSpec; oracled here.
    // (c4 oracles the BUILT-IN session_window; this oracles the custom
    // arbitrary-state variant.)
    "c13_custom_sessions" -> ((s, dir) => {
      graft.streaming.SessionTracker.sessionsBatch(ClipGen.readClips(s, dir))
        .orderBy("person_idx", "session_start_ms")
    }),

    // AUDIO near-duplicate detection, oracled end-to-end against planted
    // ground truth: every 20th clip gains an in-query "twin" — the SAME
    // signal transcoded through a different G.711 codec (pcm_transcode) —
    // and the engine must recover exactly the planted (clip, twin) pairs
    // FROM THE AUDIO BYTES ALONE (parametric tone-pair fingerprint ->
    // exact-key join + tolerance verify; no id/metadata reaches the
    // detector). The oracle states the planted pair set in SQL from
    // clip_id arithmetic — expressible because recall and precision are
    // both 1.0 on this corpus (AudioDedupSpec measures the margins).
    // r7 (single-scan planting): the former `clips.unionByName(twins)`
    // scanned the 2.4 GB parquet bytes column TWICE — once for the corpus
    // fingerprints, once (filtered to 1/20) to build the twins. One scan
    // with a conditional per-row explode emits the identical row set
    // (twin rows only for residue-0 ids, transcode evaluated only on the
    // taken branch), so the detector input — and therefore the oracled
    // output — is unchanged while the payload is read once (guide §2.4:
    // remove the duplicate pass outright).
    "c14_audio_neardup" -> ((s, dir) => {
      val twinCodec = when(col("codec") === "ulaw", lit("alaw")).otherwise(lit("ulaw"))
      val orig = struct(col("clip_id"), col("bytes"), col("codec"), col("sr_hz"))
      val twin = struct(concat(col("clip_id"), lit("-t")).as("clip_id"),
        pcm_transcode(col("bytes"), col("codec"), twinCodec).as("bytes"),
        twinCodec.as("codec"), col("sr_hz"))
      val withTwins = ClipGen.readClips(s, dir)
        .select("clip_id", "bytes", "codec", "sr_hz")
        .select(explode(
          when(substring(col("clip_id"), 6, 8).cast("int") % 20 === 0,
            array(orig, twin)).otherwise(array(orig))).as("r"))
        .select("r.*")
      graft.operators.Dedup.audioNearDup(withTwins)
        .orderBy("id_a", "id_b")
    }),

    // TIME-SHIFT-ROBUST audio near-dup, oracled like c14 but with a
    // harder planting rule: every 20th clip (residue 10, disjoint from
    // c14's twins) gains a twin that is BOTH trimmed (160 leading samples
    // dropped from the encoded bytes) AND transcoded through the other
    // G.711 codec. audioNearDup's exact-(sr, n, f1) key cannot see these
    // (n changed); audioNearDupShift's duration-bucketed candidates +
    // aligned-cross-correlation verify must recover exactly the planted
    // pairs from the bytes alone (recall AND precision 1.0).
    // r7: single-scan planting, same rationale as c14 (identical row set,
    // one parquet pass instead of two).
    "c15_audio_neardup_shift" -> ((s, dir) => {
      val twinCodec = when(col("codec") === "ulaw", lit("alaw")).otherwise(lit("ulaw"))
      val trimmed = expr(
        "substring(bytes, CASE WHEN codec = 'pcm16' THEN 321 ELSE 161 END)")
      val orig = struct(col("clip_id"), col("bytes"), col("codec"), col("sr_hz"))
      val twin = struct(concat(col("clip_id"), lit("-s")).as("clip_id"),
        pcm_transcode(trimmed, col("codec"), twinCodec).as("bytes"),
        twinCodec.as("codec"), col("sr_hz"))
      val withTwins = ClipGen.readClips(s, dir)
        .select("clip_id", "bytes", "codec", "sr_hz")
        .select(explode(
          when(substring(col("clip_id"), 6, 8).cast("int") % 20 === 10,
            array(orig, twin)).otherwise(array(orig))).as("r"))
        .select("r.*")
      graft.operators.Dedup.audioNearDupShift(withTwins)
        .orderBy("id_a", "id_b")
    }),

    // INCREMENTAL audio near-dup (Dedup.audioNearDupIncremental): the
    // c15 twins arrive as a DELTA against the raw corpus, whose acoustic
    // fingerprints are already materialized (audioFingerprints — the
    // ingest-time decode-once table; computed in-query here, stored next
    // to the bytes in production). The corpus pays zero DSP in this run;
    // candidates come from the fingerprint table joined against the
    // broadcast bucketed delta. Same planted oracle as c15: equality =
    // the incremental path has exact recall and precision.
    "c20_audio_neardup_inc" -> ((s, dir) => {
      val clips = ClipGen.readClips(s, dir)
        .select("clip_id", "bytes", "codec", "sr_hz")
      val twinCodec = when(col("codec") === "ulaw", lit("alaw")).otherwise(lit("ulaw"))
      val trimmed = expr(
        "substring(bytes, CASE WHEN codec = 'pcm16' THEN 321 ELSE 161 END)")
      // MATERIALIZE the fingerprints, as production would (they are a
      // stored table there — see runDedupedToTable): joining on
      // kernel-COMPUTED key columns makes Catalyst's inferred IsNotNull
      // constraint filters re-evaluate the DSP kernel per key (the r4
      // self-join lesson, measured ~5x here); checkpointed plain columns
      // join with zero kernel cost.
      // r7 (one scan for fingerprints AND delta): the corpus fingerprint
      // pass and the in-query twin construction each scanned the full
      // parquet bytes column; one combined scan emits the fp row plus an
      // optional twin struct (transcode evaluated only on residue-10
      // rows) and the checkpoint materializes both — fp rows are tiny,
      // the twin payload is delta-sized. Same fp table, same delta rows,
      // so the oracled output is unchanged.
      val combined = clips.select(col("clip_id"), col("sr_hz"),
          pcm_sample_count(col("bytes"), col("codec")).as("n"),
          pcm_tone_pair(col("bytes"), col("codec"), col("sr_hz")).as("tones"),
          when(substring(col("clip_id"), 6, 8).cast("int") % 20 === 10,
            struct(concat(col("clip_id"), lit("-s")).as("clip_id"),
              pcm_transcode(trimmed, col("codec"), twinCodec).as("bytes"),
              twinCodec.as("codec"), col("sr_hz"))).as("twin"))
        .select(struct(col("clip_id").as("id"), col("sr_hz").as("sr"),
          col("n"), element_at(col("tones"), 1).as("f1"),
          element_at(col("tones"), 2).as("f2")).as("fp"), col("twin"))
        .localCheckpoint(true)
      val fp = combined.select("fp.*")
      val twins = combined.filter(col("twin").isNotNull).select("twin.*")
      graft.operators.Dedup.audioNearDupIncremental(fp, clips, twins)
        .orderBy("id_a", "id_b")
    }),

    // Audio QUALITY SCORING (the audio analog of the t1/t4 text quality
    // ratios), oracled by planting: every 20th clip (residue 5) gains a
    // SILENT copy (pcm_gain 0), every 20th (residue 15) a CLIPPED copy
    // (pcm_gain 8 — hard-clips at full scale through the encoder). The
    // engine must flag exactly the planted clips from the BYTES via
    // pcm_quality's silence/clipping ratios; organic clips (synth peak
    // <= 0.88, silence ratio ~1e-3) must never trip either threshold —
    // equality with the id-arithmetic oracle = recall AND precision 1.0.
    // One scan-stage pass per clip, no shuffle of audio bytes anywhere.
    // r7: single-scan planting (c14 rationale) — the former corpus + two
    // planted-branch unions scanned the parquet bytes column THREE times.
    "c16_audio_quality" -> ((s, dir) => {
      val res = substring(col("clip_id"), 6, 8).cast("int") % 20
      val orig = struct(col("clip_id"), col("bytes"), col("codec"), col("sr_hz"))
      def twin(g: Double, tag: String) =
        struct(concat(col("clip_id"), lit(tag)).as("clip_id"),
          pcm_gain(col("bytes"), col("codec"), lit(g)).as("bytes"),
          col("codec"), col("sr_hz"))
      ClipGen.readClips(s, dir)
        .select("clip_id", "bytes", "codec", "sr_hz")
        .select(explode(
          when(res === 5, array(orig, twin(0.0, "-q0")))
            .when(res === 15, array(orig, twin(8.0, "-q8")))
            .otherwise(array(orig))).as("r"))
        .select("r.*")
        .select(col("clip_id"),
          pcm_quality(col("bytes"), col("codec")).as("q"))
        .select(col("clip_id"),
          when(element_at(col("q"), 1) >= 0.99, lit("silent"))
            .when(element_at(col("q"), 2) >= 0.3, lit("clipped"))
            .as("verdict"))
        .filter(col("verdict").isNotNull)
        .orderBy("clip_id")
    }),

    // Sample-rate normalization (mixed-rate corpus -> one model rate):
    // every non-16 kHz clip is windowed-sinc resampled to pcm16@16k in
    // the scan stage. The oracle states the exact output-length contract
    // floor(n * 16000 / sr) from the table's own columns (sample count is
    // pure byte math per codec) — the signal-fidelity half of the
    // contract (SNR >= 30 dB vs an analytic reference tone, both up- and
    // down-sampling) is AudioCodecSpec territory, not SQL-expressible.
    "c17_resample_norm" -> ((s, dir) => {
      ClipGen.readClips(s, dir)
        .filter(col("sr_hz") =!= 16000)
        .select(col("clip_id"),
          pcm_sample_count(
            pcm_resample(col("bytes"), col("codec"), col("sr_hz"), lit(16000)),
            lit("pcm16")).as("n_16k"))
        .orderBy("clip_id")
    }),

    // Energy-based VAD segmentation (silence stripping / speech-span
    // extraction — the audio curation staple): cut each clip into 50 ms
    // frames, frames are voiced iff frame RMS >= 0.03, maximal voiced
    // runs become segments. ORACLED exactly: the organic corpus is voiced
    // end-to-end on the frame grid (one segment per clip), and a planted
    // "gapped" variant (id%20==2, '-g' ids) is constructed IN-QUERY as
    // [500ms silence][voiced][500ms silence][voiced] with the voiced part
    // truncated to the frame grid, so every boundary is a pure integer
    // function of (n_samples, sr_hz) that the DuckDB oracle states from
    // byte arithmetic alone. Silence bytes are the codec's own encode(0)
    // (pcm16 zeros, G.711 companded zero) built with repeat/unhex — the
    // whole query is one fused codegen scan, no UDF.
    "c18_segments" -> ((s, dir) => {
      gappedCorpus(ClipGen.readClips(s, dir))
        .select(col("clip_id"),
          explode(pcm_segments(col("bytes"), col("codec"), col("sr_hz"))).as("seg"))
        .select(col("clip_id"), col("seg.seg_start_ms"), col("seg.seg_end_ms"))
        .orderBy("clip_id", "seg_start_ms")
    }),

    // Silence REMOVAL (the transform twin of c18): pcm_strip_silence
    // splices the voiced frames' bytes without re-encoding, so stripped
    // length is frame-exact and the oracle states it from byte
    // arithmetic: organic clips keep all full frames (vf*fs samples),
    // gapped variants keep exactly their two voiced spans (2*vf*fs) —
    // both silence blocks and the grid-truncated tails are gone.
    "c19_strip_silence" -> ((s, dir) => {
      gappedCorpus(ClipGen.readClips(s, dir))
        .select(col("clip_id"),
          pcm_sample_count(
            pcm_strip_silence(col("bytes"), col("codec"), col("sr_hz")),
            col("codec")).as("n_stripped"))
        .orderBy("clip_id")
    }),

    // DECLARATIVE ACTION LIST (the Chrome-Actions analog, r6 — see
    // graft.operators.Actions): a 3-step `;`-DSL action chain
    // (VAD strip -> resample to 16k -> transcode to ulaw) compiled to the
    // engine's fused byte transforms; Catalyst folds all three kernels
    // into ONE codegen'd scan pass (plan equality with the hand-built
    // chain pinned in ActionsSpec). Every step has a byte-arithmetic
    // length contract (c19's frame grid, c17's floor(n*16k/sr), c14's
    // count-preserving transcode), so the composed output length is
    // SQL-exact for every organic row.
    "c21_action_chain" -> ((s, dir) => {
      val chain = graft.operators.Actions.compile(
        "strip_silence;resample:16000;transcode:ulaw")
      chain(ClipGen.readClips(s, dir).select("clip_id", "bytes", "codec", "sr_hz"))
        .select(col("clip_id"), col("codec"),
          pcm_sample_count(col("bytes"), col("codec")).as("n_out"))
        .orderBy("clip_id")
    }),

    // Bounded multi-hop enrichment (J2 IsPath re-expression): clip ->
    // country -> region, depth fixed at plan time; leaf level aggregates.
    "c9_multihop" -> ((s, dir) => {
      import s.implicits._
      val regions = Seq(
        ("United States", "AMERICAS"), ("Brazil", "AMERICAS"),
        ("Canada", "AMERICAS"), ("Germany", "EMEA"), ("Japan", "APAC"))
        .toDF("country", "region")
      val withCountry = ClipGen.readClips(s, dir)
        .withColumn("country",
          regexp_extract(col("transcript"), "<country>([^<]*)</country>", 1))
      graft.operators.Enrichment
        .multiHop(withCountry, Seq((regions, "country", "country")))
        .groupBy(col("region"))
        .agg(count(lit(1)).as("n_clips"), countDistinct(col("country")).as("n_countries"))
        .orderBy("region")
    }))

  val oracleSql: Map[String, String] = oracleSqlFor(OracleSf)

  /** Oracle SQL with fixture globs derived from the harness's scale factor
    * (ADVICE r3: a harness run at sf != 0.01 must compare engine and oracle
    * over the SAME table, not engine@sfX vs oracle@sf0.01). */
  def oracleSqlFor(sf: String): Map[String, String] = {
    val clips = s"read_parquet('${clipsGlob(sf)}')"
    val updates = s"read_parquet('${updatesGlob(sf)}')"
    Map(
      // The planted ground truth for the audio near-dup detector: the
      // engine derives pairs from the BYTES (fingerprint/LSH/Jaccard);
      // the oracle derives them from the planting rule. Equality = the
      // detector has exact recall and precision on this corpus.
      "c14_audio_neardup" ->
        s"""SELECT clip_id AS id_a, clip_id || '-t' AS id_b
           |FROM $clips
           |WHERE CAST(substr(clip_id, 6, 8) AS INTEGER) % 20 = 0
           |ORDER BY 1, 2""".stripMargin,
      "c15_audio_neardup_shift" ->
        s"""SELECT clip_id AS id_a, clip_id || '-s' AS id_b
           |FROM $clips
           |WHERE CAST(substr(clip_id, 6, 8) AS INTEGER) % 20 = 10
           |ORDER BY 1, 2""".stripMargin,
      // incremental path, same planted truth: every true pair touches
      // the delta by construction (the corpus is organic-collision-free
      // at the verify threshold — c15's own recall/precision property)
      "c20_audio_neardup_inc" ->
        s"""SELECT clip_id AS id_a, clip_id || '-s' AS id_b
           |FROM $clips
           |WHERE CAST(substr(clip_id, 6, 8) AS INTEGER) % 20 = 10
           |ORDER BY 1, 2""".stripMargin,
      // Quality-scoring ground truth is the planting rule: exactly the
      // gain-0 copies are silent, exactly the gain-8 copies are clipped,
      // and no organic clip trips either threshold.
      "c16_audio_quality" ->
        s"""SELECT clip_id || '-q0' AS clip_id, 'silent' AS verdict
           |FROM $clips
           |WHERE CAST(substr(clip_id, 6, 8) AS INTEGER) % 20 = 5
           |UNION ALL
           |SELECT clip_id || '-q8' AS clip_id, 'clipped' AS verdict
           |FROM $clips
           |WHERE CAST(substr(clip_id, 6, 8) AS INTEGER) % 20 = 15
           |ORDER BY 1""".stripMargin,
      // c7's planted RMS-class truth: organic rows are 'voiced' (rms in
      // [0.366, 0.514] structurally), gain-0 copies 'silent', gain-6
      // copies 'hot' — class edges 0.02/0.69 carry >= 25% margins (see
      // the query comment); n_samples is codec byte math, gain-planting
      // preserves it
      "c7_decode_energy" ->
        s"""WITH c AS (
           |  SELECT clip_id, codec,
           |    CAST(CASE WHEN codec = 'pcm16' THEN octet_length(bytes) // 2
           |         ELSE octet_length(bytes) END AS INTEGER) AS n_samples,
           |    CAST(substr(clip_id, 6, 8) AS INTEGER) % 20 AS cls
           |  FROM $clips)
           |SELECT clip_id, codec, n_samples, 'voiced' AS rms_class FROM c
           |UNION ALL
           |SELECT clip_id || '-e0', codec, n_samples, 'silent' FROM c WHERE cls = 7
           |UNION ALL
           |SELECT clip_id || '-e6', codec, n_samples, 'hot' FROM c WHERE cls = 17
           |ORDER BY 1""".stripMargin,
      // c10's planted band-argmax truth: a pure tone at band center
      // b = idx%8 of the row's own sr must argmax in band b, with >= 90%
      // of total filterbank energy concentrated there
      "c10_band_energies" ->
        s"""SELECT clip_id, sr_hz,
           |  CAST(CAST(substr(clip_id, 6, 8) AS INTEGER) % 8 AS INTEGER) AS band,
           |  TRUE AS concentrated
           |FROM $clips ORDER BY clip_id""".stripMargin,
      // the resample LENGTH contract, stated from the table's own columns:
      // n = byte math per codec, n_16k = floor(n * 16000 / sr_hz)
      "c17_resample_norm" ->
        s"""SELECT clip_id,
           |  CAST((CAST(CASE WHEN codec = 'pcm16' THEN octet_length(bytes) // 2
           |                  ELSE octet_length(bytes) END AS BIGINT) * 16000)
           |       // sr_hz AS INTEGER) AS n_16k
           |FROM $clips
           |WHERE sr_hz <> 16000
           |ORDER BY 1""".stripMargin,
      // The planted ground truth for VAD segmentation: organic clips are
      // voiced end-to-end on the 50ms frame grid (one segment, end = full
      // frames only), the in-query gapped variants ('-g', id%20==2) are
      // [500ms sil][vf frames][500ms sil][vf frames] — every boundary is
      // integer arithmetic on (octet_length, codec, sr_hz).
      "c18_segments" ->
        s"""WITH c AS (
           |  SELECT clip_id,
           |    CAST(CASE WHEN codec = 'pcm16' THEN octet_length(bytes) // 2
           |         ELSE octet_length(bytes) END AS BIGINT)
           |      // (sr_hz // 20) AS vf,
           |    CAST(substr(clip_id, 6, 8) AS INTEGER) % 20 AS cls
           |  FROM $clips)
           |SELECT clip_id, 0 AS seg_start_ms,
           |       CAST(vf * 50 AS INTEGER) AS seg_end_ms FROM c
           |UNION ALL
           |SELECT clip_id || '-g', 500, CAST(500 + vf * 50 AS INTEGER)
           |FROM c WHERE cls = 2
           |UNION ALL
           |SELECT clip_id || '-g', CAST(1000 + vf * 50 AS INTEGER),
           |       CAST(1000 + 2 * vf * 50 AS INTEGER) FROM c WHERE cls = 2
           |ORDER BY 1, 2""".stripMargin,
      // stripped length = voiced full frames only, in samples
      "c19_strip_silence" ->
        s"""WITH c AS (
           |  SELECT clip_id, sr_hz // 20 AS fs,
           |    CAST(CASE WHEN codec = 'pcm16' THEN octet_length(bytes) // 2
           |         ELSE octet_length(bytes) END AS BIGINT)
           |      // (sr_hz // 20) AS vf,
           |    CAST(substr(clip_id, 6, 8) AS INTEGER) % 20 AS cls
           |  FROM $clips)
           |SELECT clip_id, CAST(vf * fs AS INTEGER) AS n_stripped FROM c
           |UNION ALL
           |SELECT clip_id || '-g', CAST(2 * vf * fs AS INTEGER) FROM c WHERE cls = 2
           |ORDER BY 1""".stripMargin,
      // the composed length contract of the 3-step action chain: voiced
      // full frames (c19) -> floor(n*16000/sr) (c17) -> count-preserving
      // transcode (c14)
      "c21_action_chain" ->
        s"""WITH c AS (
           |  SELECT clip_id, sr_hz, sr_hz // 20 AS fs,
           |    CAST(CASE WHEN codec = 'pcm16' THEN octet_length(bytes) // 2
           |         ELSE octet_length(bytes) END AS BIGINT) AS n
           |  FROM $clips)
           |SELECT clip_id, 'ulaw' AS codec,
           |  CAST(((n // fs) * fs * 16000) // sr_hz AS INTEGER) AS n_out
           |FROM c ORDER BY clip_id""".stripMargin,
      "c13_custom_sessions" ->
        s"""WITH ev AS (
           |  SELECT person_idx, epoch_ms(event_time) AS ms, dur_ms
           |  FROM $clips),
           |flagged AS (
           |  SELECT person_idx, ms, dur_ms,
           |    CASE WHEN ms - lag(ms) OVER (PARTITION BY person_idx ORDER BY ms)
           |      >= 30000 THEN 1 ELSE 0 END AS new_session
           |  FROM ev),
           |numbered AS (
           |  SELECT person_idx, ms, dur_ms,
           |    sum(new_session) OVER (PARTITION BY person_idx ORDER BY ms
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           |  FROM flagged)
           |SELECT CAST(person_idx AS INTEGER) AS person_idx,
           |  min(ms) AS session_start_ms,
           |  max(ms) + 30000 AS session_end_ms,
           |  count(*) AS n_clips,
           |  CAST(sum(dur_ms) AS BIGINT) AS total_dur_ms
           |FROM numbered GROUP BY person_idx, sid
           |ORDER BY person_idx, session_start_ms""".stripMargin,
      "c12_pattern_matches" ->
        s"""WITH ev AS (
           |  SELECT person_idx AS key, clip_id AS id, epoch_ms(event_time) AS ms, codec
           |  FROM $clips),
           |a AS (SELECT key, id AS a_id, ms AS a_time_ms FROM ev WHERE codec = 'ulaw'),
           |b AS (SELECT key, id AS b_id, ms AS b_time_ms FROM ev WHERE codec = 'alaw'),
           |j AS (
           |  SELECT a.key, a_id, a_time_ms, b_id, b_time_ms,
           |    row_number() OVER (PARTITION BY a.key, a_id
           |      ORDER BY b_time_ms, b_id) AS rn
           |  FROM a JOIN b ON a.key = b.key
           |    AND (b_time_ms > a_time_ms
           |         OR (b_time_ms = a_time_ms AND b_id > a_id))
           |    AND b_time_ms <= a_time_ms + 60000)
           |SELECT CAST(key AS INTEGER) AS person_idx, a_id, a_time_ms,
           |  b_id, b_time_ms, b_time_ms - a_time_ms AS gap_ms
           |FROM j WHERE rn = 1 ORDER BY person_idx, a_id""".stripMargin,
      "c1_extract_fields" ->
        s"""SELECT clip_id,
           |  regexp_extract(transcript, '<name[^>]*>([^<]*)</name>', 1) AS name_text,
           |  regexp_extract(transcript, '<name href="([^"]*)"', 1) AS name_href,
           |  array_to_string(regexp_extract_all(transcript, '<phone>([^<]*)</phone>', 1), ';') AS phones_text,
           |  regexp_extract(transcript, '<email>([^<]*)</email>', 1) AS email_text,
           |  regexp_extract(transcript, '<counter>([^<]*)</counter>', 1) AS counter_text,
           |  regexp_extract(transcript, '<country>([^<]*)</country>', 1) AS country_text
           |FROM $clips ORDER BY clip_id""".stripMargin,
      "c2_tumbling_counts" ->
        s"""SELECT (epoch_ms(event_time) // 10000) * 10000 AS w_start_ms,
           |  codec, sr_hz, count(*) AS n_clips, CAST(sum(dur_ms) AS BIGINT) AS sum_dur_ms
           |FROM $clips GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
      "c3_sliding_counts" ->
        s"""WITH e AS (SELECT codec, epoch_ms(event_time) AS ms FROM $clips),
           |  w AS (SELECT codec, ms, (ms // 5000) * 5000 - 5000 * g AS w_start_ms
           |        FROM e CROSS JOIN (SELECT unnest([0, 1]) AS g)
           |        WHERE (ms // 5000) * 5000 - 5000 * g + 10000 > ms)
           |SELECT w_start_ms, codec, count(*) AS n_clips
           |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      "c4_session_windows" ->
        s"""WITH e AS (SELECT codec, clip_id, epoch_ms(event_time) AS ms FROM $clips),
           |  b AS (SELECT codec, clip_id, ms,
           |          CASE WHEN ms - lag(ms) OVER (PARTITION BY codec ORDER BY ms, clip_id) >= 30000
           |               OR lag(ms) OVER (PARTITION BY codec ORDER BY ms, clip_id) IS NULL
           |               THEN 1 ELSE 0 END AS brk
           |        FROM e),
           |  g AS (SELECT codec, ms, sum(brk) OVER (PARTITION BY codec ORDER BY ms, clip_id
           |          ROWS UNBOUNDED PRECEDING) AS grp FROM b)
           |SELECT min(ms) AS w_start_ms, codec, count(*) AS n_clips
           |FROM g GROUP BY codec, grp ORDER BY codec, w_start_ms""".stripMargin,
      "c5_pcm_stats" ->
        s"""SELECT clip_id, codec, sr_hz, dur_ms,
           |  CAST(CASE WHEN codec = 'pcm16' THEN octet_length(bytes) // 2
           |       ELSE octet_length(bytes) END AS INTEGER) AS n_samples,
           |  CAST(octet_length(bytes) AS INTEGER) AS n_bytes
           |FROM $clips ORDER BY clip_id""".stripMargin,
      "c6_join_updates" ->
        s"""SELECT c.clip_id, c.codec,
           |  CASE WHEN u.clip_id IS NOT NULL THEN 1 ELSE 0 END AS updated,
           |  coalesce(regexp_extract(u.transcript, '<title>([^<]*)</title>', 1), '') AS details_title
           |FROM $clips c LEFT JOIN $updates u ON c.clip_id = u.clip_id
           |ORDER BY c.clip_id""".stripMargin,
      "c11_geo_rollup" ->
        s"""SELECT coalesce(country, 'ALL') AS country, coalesce(city, 'ALL') AS city,
           |  count(*) AS n_clips
           |FROM (
           |  SELECT regexp_extract(transcript, '<country>([^<]*)</country>', 1) AS country,
           |         regexp_extract(transcript, '<city>([^<]*)</city>', 1) AS city
           |  FROM $clips)
           |GROUP BY ROLLUP(country, city)
           |ORDER BY 1, 2""".stripMargin,
      "c8_policy_gate" ->
        s"""SELECT country, count(*) AS n_clips FROM (
           |  SELECT regexp_extract(transcript, '<country>([^<]*)</country>', 1) AS country
           |  FROM $clips)
           |WHERE country NOT IN ('Germany', 'Brazil')
           |GROUP BY 1 ORDER BY 1""".stripMargin,
      "c9_multihop" ->
        s"""SELECT region, count(*) AS n_clips, count(DISTINCT country) AS n_countries
           |FROM (
           |  SELECT country,
           |    CASE WHEN country IN ('United States', 'Brazil', 'Canada') THEN 'AMERICAS'
           |         WHEN country = 'Germany' THEN 'EMEA'
           |         WHEN country = 'Japan' THEN 'APAC' END AS region
           |  FROM (SELECT regexp_extract(transcript, '<country>([^<]*)</country>', 1) AS country
           |        FROM $clips))
           |GROUP BY 1 ORDER BY 1""".stripMargin)
  }
}
