package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.operators.{Dedup, LangProfile, Similarity}

/** Training-data pipeline operators over the driver's documents/embeddings
  * tables: text analysis, dedup (exact + MinHash-LSH + SimHash + embedding
  * near-dup), and ANN similarity search.
  *
  * The driver corpus is all-distinct, so dedup queries run on a corpus
  * AUGMENTED with deterministic duplicates (exact copies of doc_id%7==0,
  * near-copies of doc_id%11==0 with a few words appended) — the identical
  * construction is expressed in the oracle SQL, so results stay checkable.
  *
  * Similarity scores use the int-quantized cosine (integer dot/norms are
  * addition-order free => bit-identical in Spark and DuckDB at any
  * parallelism; see graft.functions.VectorOps).
  */
object DocQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** documents + exact copies (%7) and near copies (%11, words appended). */
  private def augmented(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text")
    d.unionByName(
        d.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      .unionByName(
        d.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 2000000).as("doc_id"),
            concat(col("text"), lit(" appended tail marker words")).as("text")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Text quality stats — integer-exact ratios (floor(1e4 * a / b)).
    "t1_text_stats" -> ((s, dir) => {
      docs(s, dir).select(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        size(split(trim(col("text")), "\\s+")).as("n_tokens"),
        floor(lit(10000.0) * length(regexp_replace(col("text"), "[^A-Za-z]", ""))
          / length(col("text"))).as("alpha_x10k"),
        floor(lit(100.0) * length(regexp_replace(col("text"), "\\s+", ""))
          / size(split(trim(col("text")), "\\s+"))).as("avg_wordlen_x100"))
        .orderBy("doc_id")
    }),

    // DETERMINISTIC train/val/test split (Sampling.deterministicSplit):
    // membership is a pure function of the id's md5 hash — reproducible
    // on any cluster size / engine (unlike randomSplit, which is
    // partition-order dependent), and stable under corpus growth. The
    // oracle reproduces the exact assignment via md5_number_lower.
    "t5_split" -> ((s, dir) => {
      graft.operators.Sampling.deterministicSplit(docs(s, dir), "doc_id")
        .groupBy("lang", "split").agg(count(lit(1)).as("n"))
        .orderBy("lang", "split")
    }),

    // FREQUENCY CAPPING (Sampling.capPerGroup): at most 20 docs per lang,
    // kept set chosen by deterministic hash priority — the dataset-balance
    // staple. Hex-md5 ordering matches DuckDB's string comparison, so the
    // oracle states the exact kept set.
    "t6_cap" -> ((s, dir) => {
      graft.operators.Sampling.capPerGroup(
        docs(s, dir).select("doc_id", "lang"), "lang", "doc_id", 20)
        .orderBy("lang", "doc_id")
    }),

    // Skew-safe two-phase capping: MUST produce t6's exact kept set (the
    // oracle SQL is the same single window) while a hot group spreads
    // over `salts` parallel window partitions — the plan you'd run when
    // one language/domain dominates a 100 TB corpus.
    "t7_cap_salted" -> ((s, dir) => {
      graft.operators.Sampling.capPerGroupSalted(
        docs(s, dir).select("doc_id", "lang"), "lang", "doc_id", 20, salts = 8)
        .orderBy("lang", "doc_id")
    }),

    // Token-BUDGET packing: per language, keep the deterministic
    // hash-priority prefix of documents whose running whitespace-token
    // total stays within the budget — the "fill a fixed training mix per
    // language" primitive (capping bounds document COUNT; this bounds
    // token MASS). The oracle states the same running window sum.
    "t8_token_budget" -> ((s, dir) => {
      val withTok = docs(s, dir).select(col("doc_id"), col("lang"),
        size(split(trim(col("text")), "\\s+")).as("n_ws_tokens"))
      graft.operators.Sampling.tokenBudgetPerGroup(
        withTok, "lang", "doc_id", "n_ws_tokens", budget = 2000L)
        .orderBy("lang", "doc_id")
    }),

    // PII scrubbing (Scrub.scrubPii): redact emails/phones with built-in
    // regexp expressions (one codegen'd scan, no UDF) and count the
    // redactions. The organic corpus contains no PII, so it is PLANTED
    // deterministically in-query (the dedup-family discipline):
    // doc_id%13==0 gains an email, doc_id%17==0 a phone, %221 both. The
    // oracle re-states the planting AND the scrub; the patterns live in
    // the Java/RE2 common dialect so both engines match the same spans.
    "t11_pii_scrub" -> ((s, dir) => {
      val planted = docs(s, dir).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 13 === 0,
            concat(lit(" Contact: user"), col("doc_id").cast("string"),
              lit("@example.com for details."))).otherwise(lit("")),
          when(col("doc_id") % 17 === 0,
            concat(lit(" Call +1 555 "),
              lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
              lit(" now."))).otherwise(lit(""))).as("text"))
      graft.operators.Scrub.scrubPii(planted, "text")
        .select(col("doc_id"), col("n_emails"), col("n_phones"),
          col("clean_text"))
        .orderBy("doc_id")
    }),

    // BENCHMARK DECONTAMINATION (Scrub.decontaminate, r6): flag corpus
    // documents sharing 8-gram spans with an evaluation set — the
    // GPT-3/PaLM-appendix leakage methodology as one broadcast-join scan.
    // The "benchmark" is the doc_id%23==0 slice of the corpus itself, so
    // the oracle computes BOTH gram sets exactly (no planted classes:
    // organic cross-document overlaps count identically in both engines).
    "t16_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
      graft.operators.Scrub.decontaminate(
          d, d.filter(col("doc_id") % 23 === 0), "text", "doc_id", n = 8)
        .orderBy("doc_id")
    }),

    // Stratified deterministic downsampling (Sampling.stratifiedSample):
    // keep 25% of English and half of Chinese, all of the rest — the
    // language-rebalance staple. Membership is a pure salted id-hash (no
    // shuffle, no sample()); the oracle restates the exact threshold
    // arithmetic, so the KEPT SET itself is verified, not just counts.
    "t12_stratified_sample" -> ((s, dir) => {
      graft.operators.Sampling.stratifiedSample(
          docs(s, dir).select("doc_id", "lang"), "lang", "doc_id",
          Map("en" -> 250, "zh" -> 500))
        .orderBy("doc_id")
    }),

    // Sequence PACKING (Sampling.packSequences): per language, the
    // hash-ordered token stream chunked into 512-token training
    // sequences, one row per (doc, sequence) slice — straddling docs
    // split exactly at the boundary. The oracle restates every slice
    // with the same exclusive-frame running sum + generate_series.
    "t13_pack_sequences" -> ((s, dir) => {
      val withTok = docs(s, dir).select(col("doc_id"), col("lang"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_ws_tokens"))
      graft.operators.Sampling.packSequences(
          withTok, "lang", "doc_id", "n_ws_tokens", seqLen = 512)
        .orderBy("lang", "seq_id", "doc_id")
    }),

    // Training-MIX composition (Sampling.mixToProportions): the largest
    // 40/30/30 en/zh/es mix the corpus can supply, exact kept set by
    // hash priority — feasibility (T = min n_s*1000 DIV w_s), quotas
    // (w_s*T DIV 1000) and membership all integer arithmetic the oracle
    // restates end-to-end.
    "t15_mixture" -> ((s, dir) => {
      graft.operators.Sampling.mixToProportions(
          docs(s, dir).select("doc_id", "lang"), "lang", "doc_id",
          Map("en" -> 400, "zh" -> 300, "es" -> 300))
        .orderBy("doc_id")
    }),

    // HLL vocabulary sketch (HllRegistersAgg): per-language distinct-token
    // cardinality as a FIXED 4 KB register file per group — the
    // distributed-sketch primitive (exact count-distinct shuffles every
    // key; the sketch shuffles kilobytes). The hash is the oracle-portable
    // md5 lower half, so the ORACLE REBUILDS THE REGISTER FILE in SQL and
    // verifies every byte — the exact artifact a wrong partial-aggregate
    // merge would corrupt. Estimation accuracy is spec-tested separately
    // (HllSketchSpec); the oracled surface is the registers.
    "t14_hll_vocab" -> ((s, dir) => {
      docs(s, dir)
        .select(col("lang"), explode(split(trim(col("text")), "\\s+")).as("tok"))
        .groupBy("lang").agg(hll_registers(col("tok")).as("regs"))
        .select(col("lang"), posexplode(col("regs")).as(Seq("idx", "reg")))
        .filter(col("reg") > 0)
        .orderBy("lang", "idx")
    }),

    // TRAINED language-ID profiles (Cavnar-Trenkle fit over the labeled
    // corpus — the ROADMAP's "profile tables from a dataset" item): the
    // full (lang, gram, rank, n) profile table is oracled — normalize,
    // trigram extraction, counting, and the (count desc, gram asc) rank
    // tie-break all reproduced in SQL. The distributed trainer is
    // additionally parity-pinned to the expression path's Java tokenizer
    // (PipelineOpsSpec: fit on the embedded seeds == LangProfiles.profiles
    // bit-for-bit; classify == langIdNgram on every sentence class).
    "t9_lang_profiles" -> ((s, dir) => {
      graft.operators.LangProfile.fit(docs(s, dir), "text", "lang")
        .orderBy("lang", "rank")
    }),

    // Trained-profile CLASSIFICATION, fully oracled end-to-end: train on
    // the labeled corpus, classify the same corpus — the out-of-place
    // distance, missing-gram penalty, (dist, lang) argmin tie-break,
    // script pre-gates and the all-out-of-profile confidence gate are all
    // reproduced in SQL. Everything is integer arithmetic, so the match
    // is exact, not approximate.
    "t10_lang_classify" -> ((s, dir) => {
      val d = docs(s, dir)
      val prof = LangProfile.fit(d, "text", "lang")
      LangProfile.classify(d, "text", "doc_id", prof).orderBy("doc_id")
    }),

    // Language-ID heuristic + simhash + winnowing fingerprint. All three
    // are fully oracled: the token/shingle hash is the oracle-portable md5
    // lower half (== DuckDB md5_number_lower), signatures/fingerprints are
    // emitted as fixed-width hex (sidesteps int64-vs-uint64 typing), and
    // the marker-argmax lang-id is mirrored in SQL.
    "t2_lang_fingerprints" -> ((s, dir) => {
      docs(s, dir).select(
        col("doc_id"), col("lang"),
        lang_id(col("text")).as("lang_pred"),
        lower(lpad(hex(sim_hash(col("text"))), 16, "0")).as("simhash_hex"),
        lower(array_join(transform(winnow_fp(col("text")),
          x => lpad(hex(x), 16, "0")), ",")).as("winnow_hex"))
        .orderBy("doc_id")
    }),

    // Tokenization + quality scoring, part 2: BPE-ish regex token count
    // (letter runs / digit runs / single punctuation — the GPT-2-style
    // pre-tokenizer shape, restricted to a regex subset Java and RE2
    // interpret identically), stopword ratio, punctuation ratio. All
    // integer-exact (floor x1e4) => hash-oracled.
    "t4_token_quality" -> ((s, dir) => {
      val nTok = size(split(trim(col("text")), "\\s+"))
      val stops = Seq("the", "and", "of", "to", "is", "in", "that", "it", "with")
      docs(s, dir).select(
        col("doc_id"),
        size(regexp_extract_all(col("text"),
          lit("([A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s])"), lit(1))).as("n_bpe_tokens"),
        nTok.as("n_ws_tokens"),
        floor(lit(10000.0) *
          size(filter(split(trim(lower(col("text"))), "\\s+"),
            t => t.isInCollection(stops)))
          / nTok).as("stop_x10k"),
        floor(lit(10000.0) *
          length(regexp_replace(col("text"), "[A-Za-z0-9\\s]", ""))
          / length(col("text"))).as("punct_x10k"))
        .orderBy("doc_id")
    }),

    // Normalized md5 content digest (the exact-dedup signature).
    "t3_fingerprint_md5" -> ((s, dir) => {
      docs(s, dir).select(col("doc_id"), Dedup.digest(col("text")).as("digest"))
        .orderBy("doc_id")
    }),

    // Exact dedup over the augmented corpus: hash-groupBy on the digest.
    "d1_dedup_exact" -> ((s, dir) => {
      Dedup.exact(augmented(s, dir), "text", "doc_id")
        .orderBy("canonical_id")
    }),

    // MinHash-LSH near-dup + exact Jaccard verify. Oracled against exact
    // all-pairs shingle-set Jaccard in DuckDB: the corpus' similarity gap
    // (true pairs >= 0.667, organic pairs < 0.091) plus 16 bands of 2 rows
    // makes LSH recall 1.0 at threshold 0.5 on the fixture — verified by
    // the hash-exact compare, deterministic under the fixed hash seeds.
    "d2_neardup_minhash" -> ((s, dir) => {
      Dedup.nearDupJaccard(augmented(s, dir), "text", "doc_id",
        threshold = 0.5, k = 32, bands = 16)
        .orderBy("id_a", "id_b")
    }),

    // INCREMENTAL near-dup (Dedup.nearDupJaccardIncremental): the planted
    // twins arrive as a DELTA against the raw corpus — the daily-ingest
    // shape, where the corpus pays one signature scan and only
    // delta-touching pairs can form. The oracle is d2's exact all-pairs
    // SQL RESTRICTED to pairs with a delta member (delta ids live in the
    // +1e6/+2e6 bands): exactly the pairs the delta introduces. The
    // corpus's 25 organic pairs are correctly ABSENT — they predate the
    // delta and belong to whichever earlier batch found them.
    "d8_neardup_incremental" -> ((s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
      val delta = d.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
        .unionByName(d.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 2000000).as("doc_id"),
            concat(col("text"), lit(" appended tail marker words")).as("text")))
      Dedup.nearDupJaccardIncremental(d, delta, "text", "doc_id",
        threshold = 0.5, k = 32, bands = 16)
        .orderBy("id_a", "id_b")
    }),

    // Duplicate-CLUSTER canonicalization: connected components over the
    // near-dup pair graph (driver union-find at this size, star
    // contraction past Dedup's small-graph bound) — the
    // keep-list primitive a curation pass consumes once duplicates chain
    // A~B~C. Oracled against a DuckDB RECURSIVE transitive closure over
    // the SAME exact pair set d2 oracles.
    "d5_dup_clusters" -> ((s, dir) => {
      val pairs = Dedup.nearDupJaccard(augmented(s, dir), "text", "doc_id",
        threshold = 0.5, k = 32, bands = 16)
      Dedup.components(pairs).orderBy("id")
    }),

    // Quality-aware canonical selection (Dedup.keepBest): per duplicate
    // cluster keep the HIGHEST-quality member (here: longest text, ties
    // -> lowest id), not the lowest id — the real "which copy survives"
    // policy. Oracled end-to-end: the same RECURSIVE closure plus an
    // argmax window in SQL.
    "d7_keep_best" -> ((s, dir) => {
      val aug = augmented(s, dir)
      val pairs = Dedup.nearDupJaccard(aug, "text", "doc_id",
        threshold = 0.5, k = 32, bands = 16)
      Dedup.keepBest(Dedup.components(pairs),
          aug.withColumn("n_chars", length(col("text"))),
          "doc_id", "n_chars")
        .orderBy("id")
    }),

    // Same canonicalization, forced onto components' large-graph branch:
    // alternating large-star/small-star contraction (O(log n) rounds
    // whatever the diameter), so this fixture-sized graph still covers it
    // against the SAME RECURSIVE-closure oracle: both branches must land
    // the identical (id, min-reachable-id) labeling.
    "d6_dup_clusters_star" -> ((s, dir) => {
      val pairs = Dedup.nearDupJaccard(augmented(s, dir), "text", "doc_id",
        threshold = 0.5, k = 32, bands = 16)
      Dedup.componentsStar(pairs).orderBy("id")
    }),

    // SimHash near-dup, fully oracled: portable token hash makes the 64-bit
    // signature reproducible in SQL; chunk-bucket recall at hamming<=3 is
    // COMPLETE by pigeonhole, so the engine pair set equals the oracle's
    // all-pairs scan exactly.
    "d3_neardup_simhash" -> ((s, dir) => {
      Dedup.simhashNearDup(augmented(s, dir), "text", "doc_id", maxHamming = 3)
        .orderBy("id_a", "id_b")
    }),

    // Embedding near-dup via the SCALE-SAFE multi-table hyperplane-LSH plan
    // (never all-pairs), oracled against DuckDB's exact all-pairs scan:
    // 16 tables x 4 bits give recall 1.0 on the fixture's pair set at
    // threshold 0.5 (quantized integer cosine is engine-exact, LSH is
    // deterministic under the fixed hyperplane seeds; exact verify on
    // candidates means no false positives).
    "d4_embedding_neardup" -> ((s, dir) => {
      Dedup.embeddingNearDup(emb(s, dir), "embedding", "vec_id",
        threshold = 0.5, nBits = 4, nTables = 16)
        .orderBy("id_a", "id_b")
    }),

    // INCREMENTAL embedding near-dup (r6 — completes the incremental
    // family: text d8, audio c20, hash v4, embeddings here): a delta of
    // exact copies (+1e6 band, vec_id%9==0) and sign-flip near copies
    // (+2e6 band, vec_id%13==0, components i%11==0 negated — cos ~0.82,
    // bit-exact float ops both engines reproduce) arrives against a
    // corpus whose LSH buckets are already materialized
    // (Dedup.embeddingBuckets, the stored-at-ingest table). Oracle =
    // d4's exact all-pairs cosine RESTRICTED to delta-touching pairs.
    "d9_embedding_neardup_inc" -> ((s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding")
      val delta = e.filter(col("vec_id") % 9 === 0)
        .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
        .unionByName(e.filter(col("vec_id") % 13 === 0)
          .select((col("vec_id") + 2000000).as("vec_id"),
            transform(col("embedding"),
              (x, i) => when(i % 11 === 0, -x).otherwise(x)).as("embedding")))
      // MATERIALIZED bucket table, as production stores it (the c20/v4
      // contract: kernel-computed join keys pay the inferred-constraint tax)
      val corpusBuckets = Dedup.embeddingBuckets(e, "embedding", "vec_id",
        nBits = 4, nTables = 16).localCheckpoint(true)
      Dedup.embeddingNearDupIncremental(corpusBuckets, e, delta,
        "embedding", "vec_id", threshold = 0.5, nBits = 4, nTables = 16)
        .orderBy("id_a", "id_b")
    }),

    // Brute-force cosine top-k (oracled): probe set = vec_id < 8, k = 10.
    "s1_knn_brute" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.bruteForceKnn(e, e.filter(col("vec_id") < 8), k = 10)
        .orderBy("query_id", "rank")
    }),

    // Multi-table LSH ANN, fully oracled against exact brute force. The
    // driver corpus is uniform-random (organic cosine max ~0.51), where
    // "exact top-k by LSH" degenerates to a full scan — so the query runs
    // over a corpus AUGMENTED with planted near-neighbors (5 sign-flip
    // perturbations per probe vector, cos ~0.84; sign flips are bit-exact
    // float ops both engines reproduce identically). 24 tables x 6 bits
    // score ~35% of the corpus per query yet recover the exact top-5
    // (deterministic under fixed hyperplane seeds; verified hash-exact).
    "s2_knn_lsh" -> ((s, dir) => {
      val e = augEmb(s, dir)
      Similarity.lshKnnTables(e, e.filter(col("vec_id") < 8), k = 5,
        nBits = 6, nTables = 24)
        .orderBy("query_id", "rank")
    }),

    // IVF-Flat ANN (k-means coarse quantizer), the second scale path:
    // 32-cell deterministic k-means, queries probe their 10 nearest cells
    // (~31% of the corpus scored), exact quantized-cosine re-rank. Same
    // planted-neighbor corpus and exact brute-force oracle as s2. (At real
    // scale: nList ~ sqrt(n), small nProbe, recall < 1 accepted — the
    // fixture tunes for recall 1.0 so the oracle can be hash-exact.)
    "s3_knn_ivf" -> ((s, dir) => {
      val e = augEmb(s, dir)
      val cents = graft.operators.Ivf.fit(e, "embedding", nList = 32)
      graft.operators.Ivf.ivfKnn(e, e.filter(col("vec_id") < 8), k = 5,
        cents, nProbe = 10)
        .orderBy("query_id", "rank")
    }),

    // BULK IVF-Flat: the shuffled-join variant for query sets too large to
    // broadcast (corpus-vs-corpus retrieval). The plan broadcasts
    // NOTHING — probe-exploded queries ride a shuffled cell join and
    // vectors rehydrate via shuffled id joins (hint-gated in
    // PlanQualitySpec). Oracled hash-exact on s3's recall-1.0 probe set;
    // bulk == broadcast on a 6x query set is separately proven by
    // PipelineOpsSpec's parity test (copy-vector queries have organic
    // vectors in their true top-5, which NO partial-probe IVF recovers
    // with certainty — so the hash-exact oracle keeps the probe set where
    // recall 1.0 is a fixture property, same discipline as s2/s3).
    "s4_knn_ivf_bulk" -> ((s, dir) => {
      val e = augEmb(s, dir)
      val cents = graft.operators.Ivf.fit(e, "embedding", nList = 32)
      graft.operators.Ivf.ivfKnnBulk(e, e.filter(col("vec_id") < 8), k = 5,
        cents, nProbe = 10)
        .orderBy("query_id", "rank")
    }),

    // PRODUCT QUANTIZATION ANN (Pq.adcKnn): the memory-bound compressed
    // scan — 64-dim vectors become 8 code indices, query-candidate
    // distance = 8 ADC table lookups, floats never ride the candidate
    // join; exact quantized-cosine re-rank on the topC ADC candidates
    // (same tail as LSH/IVF). Oracled hash-exact against the same
    // brute-force SQL: topC=128 over the fixture provably covers the
    // true top-5, so the compressed path must land the identical answer.
    "s7_knn_pq" -> ((s, dir) => {
      val e = augEmb(s, dir)
      val books = graft.operators.Pq.fit(e, "embedding", m = 8, k = 16)
      graft.operators.Pq.adcKnn(e, e.filter(col("vec_id") < 8), k = 5,
        books, topC = 128)
        .orderBy("query_id", "rank")
    }),

    // IVF-PQ (Pq.ivfPqKnn) — the FAISS IVFPQ composition: coarse cells
    // restrict the search (s3's recall-1.0 probe params), ADC ranks the
    // probed cells' compressed codes, exact re-rank on the survivors.
    // Same brute-force oracle: the composed approximate path must land
    // the identical answer.
    "s8_knn_ivfpq" -> ((s, dir) => {
      val e = augEmb(s, dir)
      val cents = graft.operators.Ivf.fit(e, "embedding", nList = 32)
      val books = graft.operators.Pq.fit(e, "embedding", m = 8, k = 16)
      graft.operators.Pq.ivfPqKnn(e, e.filter(col("vec_id") < 8), k = 5,
        cents, books, nProbe = 10, topC = 128)
        .orderBy("query_id", "rank")
    }),

    // PERSISTED IVF index (build-once/search-many): cells partitioned by
    // cell id on disk; the probe set becomes a static PARTITION filter so
    // only probed directories are read (~nProbe/nList of the corpus).
    // Same quantizer/probe/re-rank semantics as s3, so the exact
    // brute-force oracle is shared; the pruned-scan shape is gated in
    // IvfIndexSpec by the scan's numFiles metric.
    "s5_knn_ivf_index" -> ((s, dir) => {
      val idx = ensureIvfIndex(s, dir)
      graft.operators.IvfIndex.knn(s, idx,
        augEmb(s, dir).filter(col("vec_id") < 8), k = 5, nProbe = 10)
        .orderBy("query_id", "rank")
    }),

    // Bulk search over the SAME persisted index: nothing broadcast, no
    // pruning (corpus-sized probe sets touch every cell) — the index win
    // is the pre-materialized cell column (no assignment scan).
    "s6_knn_ivf_index_bulk" -> ((s, dir) => {
      val idx = ensureIvfIndex(s, dir)
      graft.operators.IvfIndex.knnBulk(s, idx,
        augEmb(s, dir).filter(col("vec_id") < 8), k = 5, nProbe = 10)
        .orderBy("query_id", "rank")
    }))

  /** Build (or reuse) the persisted IVF index over the augmented embedding
    * corpus for this scale — same existence-is-validity + atomic-rename
    * discipline as the fixture generators. */
  private def ensureIvfIndex(s: SparkSession, dir: String)
      : graft.operators.IvfIndex.Handle = {
    import java.nio.file.Paths
    val e = augEmb(s, dir)
    val n = e.count()
    val name = Paths.get(dir).getFileName.toString
    val target =
      s"ivf-v${graft.operators.IvfIndex.Version}-n$n-l32"
    val out = graft.fixtures.FixtureDirs.ensureAtomic(
      graft.fixtures.FixtureDirs.dataRoot.resolve("ivf").resolve(name), target) { tmp =>
      graft.operators.IvfIndex.write(e, tmp, nList = 32)
    }
    graft.operators.IvfIndex.open(s, out)
  }

  /** embeddings + 5 planted near-neighbors per probe vector (vec_id < 8):
    * copy j (id + 10000*(j+1)) negates components i where i % 13 == j —
    * cosine ~0.84 to the original, far above the corpus' organic max. */
  private def augEmb(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).select(col("vec_id"), col("embedding"))
    val probes = e.filter(col("vec_id") < 8)
    val copies = (0 until 5).map { j =>
      probes.select((col("vec_id") + lit(10000L * (j + 1))).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i % 13 === j, -x).otherwise(x)).as("embedding"))
    }.reduce(_ unionByName _)
    e.unionByName(copies)
  }

  /** Shared oracle fragments: tokenization, portable token hashes, and the
    * md5-lower-half SimHash — DuckDB re-expressions of TextOps.tokenize /
    * portableHash64 / simHash over a named doc source CTE. */
  private def tokSql(src: String): String =
    s"""tk AS (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
       |  FROM $src),
       |tokm AS (SELECT doc_id, unnest(toks) AS tok FROM tk)""".stripMargin

  /** Exact all-pairs 3-gram-shingle Jaccard over `tk` — the ground-truth
    * pair machinery shared by the d2 (pairs) and d5 (clusters) oracles.
    * Ends at the `jac` CTE; callers append their own projection. */
  private val jacPairsSql =
    """sh AS (
      |  SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS s
      |  FROM tk, LATERAL (SELECT unnest(generate_series(1, len(toks) - 2)) AS i) g),
      |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |jac AS (
      |  SELECT id_a, id_b, CAST(i AS DOUBLE) / (ca.n + cb.n - i) AS j
      |  FROM inter JOIN cnt ca ON ca.doc_id = id_a JOIN cnt cb ON cb.doc_id = id_b)""".stripMargin

  private val simhashSql =
    """th AS (SELECT doc_id, md5_number_lower(tok) AS h FROM tokm),
      |votes AS (
      |  SELECT doc_id, b, sum(CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END) AS v
      |  FROM th, (SELECT unnest(generate_series(0, 63)) AS b) bits
      |  GROUP BY 1, 2),
      |sims AS (
      |  SELECT doc_id,
      |    bit_or(CASE WHEN v > 0 THEN (CAST(1 AS UBIGINT) << b)
      |           ELSE CAST(0 AS UBIGINT) END) AS sig
      |  FROM votes GROUP BY 1)""".stripMargin

  private val augmentedSql =
    """aug AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 2000000, text || ' appended tail marker words'
      |  FROM documents WHERE doc_id % 11 = 0)""".stripMargin

  private val qvecSql =
    """qv AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS q
      |  FROM embeddings)""".stripMargin

  /** Integer dot/norm of two quantized vectors via parallel unnest. */
  private def pairScoreSql(aCol: String, bCol: String): String =
    s"""(SELECT CAST(sum(x * y) AS DOUBLE) /
       |  (sqrt(CAST(sum(x * x) AS DOUBLE)) * sqrt(CAST(sum(y * y) AS DOUBLE)))
       | FROM (SELECT unnest($aCol) AS x, unnest($bCol) AS y))""".stripMargin

  // NOTE (oracle precondition): the t2 winnowing CTEs and the d2 shingle
  // CTEs assume every document has >= 6 whitespace tokens (>= 4 shingles,
  // so at least one winnow window). The engine side short-circuits shorter
  // docs to a whole-text fingerprint, which these oracles do not model —
  // the inner JOIN would drop such docs. Holds for the driver fixture
  // (min 10 tokens at every SF, checked 2026-08-16); revisit if the
  // documents table ever gains micro-docs.
  // RECURSIVE transitive closure over the SAME exact pair set d2 oracles:
  // every node's canonical id = the minimum id reachable through the dup
  // graph — shared by d5 (components' driver union-find) and d6 (its
  // star contraction branch), which must both match it exactly.
  private lazy val dupClustersOracleSql: String =
    s"""WITH RECURSIVE $augmentedSql,
       |${tokSql("aug")},
       |$jacPairsSql,
       |prs AS (SELECT id_a, id_b FROM jac WHERE j >= 0.5),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM prs
       |          UNION SELECT id_b, id_a FROM prs),
       |reach(id, m) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT r.id, e.dst FROM reach r JOIN edges e ON e.src = r.m)
       |SELECT id, min(m) AS canonical_id FROM reach GROUP BY id
       |ORDER BY id""".stripMargin

  // Shared Cavnar-Trenkle CTEs (t9 training, t10 classification):
  // pad-normalized text per doc, language-level trigram counts, 0-based
  // rank with the (count desc, gram asc) tie-break.
  private lazy val langProfCtes: String =
    """norm AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN trim(regexp_replace(lower(substr(text, 1, 4096)),
      |                    '[^\p{L}]+', ' ', 'g'), ' ') = ''
      |         THEN ' '
      |         ELSE ' ' || trim(regexp_replace(lower(substr(text, 1, 4096)),
      |                    '[^\p{L}]+', ' ', 'g'), ' ') || ' '
      |    END AS s
      |  FROM documents),
      |grams AS (
      |  SELECT lang, substr(s, i, 3) AS gram
      |  FROM norm, LATERAL (SELECT unnest(generate_series(1, length(s) - 2)) AS i) g
      |  WHERE substr(s, i + 1, 1) != ' '),
      |cnt AS (SELECT lang, gram, count(*) AS n FROM grams GROUP BY 1, 2),
      |rk AS (SELECT lang, gram, n,
      |  row_number() OVER (PARTITION BY lang ORDER BY n DESC, gram) - 1 AS "rank"
      |  FROM cnt)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "t2_lang_fingerprints" ->
      s"""WITH ${tokSql("documents")},
         |$simhashSql,
         |mk AS (
         |  SELECT doc_id,
         |    count(*) FILTER (tok IN ('the','and','of','to','is','in','that','it','with')) AS c_en,
         |    count(*) FILTER (tok IN ('el','la','los','las','que','de','y','en','un','una','es')) AS c_es,
         |    count(*) FILTER (tok IN ('der','die','das','und','ist','nicht','ein','eine','mit','zu')) AS c_de,
         |    count(*) FILTER (tok IN ('le','la','les','et','est','une','dans','que','pour','des')) AS c_fr
         |  FROM tokm GROUP BY 1),
         |chars AS (
         |  SELECT doc_id,
         |    length(regexp_replace(text, '[^\\p{L}]', '', 'g')) AS letters,
         |    length(regexp_replace(text, '[^\\x{4E00}-\\x{9FFF}]', '', 'g')) AS cjk,
         |    length(regexp_replace(text, '[^\\x{0400}-\\x{04FF}]', '', 'g')) AS cyr
         |  FROM documents),
         |shw AS (
         |  SELECT doc_id, i, len(toks) - 2 AS nsh,
         |    md5_number_lower(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS h
         |  FROM tk, LATERAL (SELECT unnest(generate_series(1, len(toks) - 2)) AS i) g),
         |wmin AS (
         |  SELECT doc_id, i, nsh,
         |    min(h) OVER (PARTITION BY doc_id ORDER BY i
         |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
         |  FROM shw),
         |fps AS (SELECT DISTINCT doc_id, m FROM wmin WHERE i <= nsh - 3),
         |winnow AS (
         |  SELECT doc_id,
         |    string_agg(lower(lpad(to_hex(m), 16, '0')), ',' ORDER BY m) AS winnow_hex
         |  FROM fps GROUP BY 1)
         |SELECT d.doc_id, d.lang,
         |  CASE WHEN ch.letters = 0 THEN 'und'
         |       WHEN ch.cjk * 10 >= ch.letters THEN 'zh'
         |       WHEN ch.cyr * 10 >= ch.letters THEN 'ru'
         |       WHEN mk.c_en = 0 AND mk.c_es = 0 AND mk.c_de = 0 AND mk.c_fr = 0 THEN 'und'
         |       WHEN mk.c_en >= mk.c_es AND mk.c_en >= mk.c_de AND mk.c_en >= mk.c_fr THEN 'en'
         |       WHEN mk.c_es >= mk.c_de AND mk.c_es >= mk.c_fr THEN 'es'
         |       WHEN mk.c_de >= mk.c_fr THEN 'de'
         |       ELSE 'fr' END AS lang_pred,
         |  lower(lpad(to_hex(s.sig), 16, '0')) AS simhash_hex,
         |  w.winnow_hex
         |FROM documents d
         |JOIN sims s USING (doc_id) JOIN mk USING (doc_id)
         |JOIN chars ch USING (doc_id) JOIN winnow w USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "d2_neardup_minhash" ->
      s"""WITH $augmentedSql,
         |${tokSql("aug")},
         |$jacPairsSql
         |SELECT id_a, id_b, CAST(floor(j * 1e4) AS BIGINT) AS jaccard_x1e4
         |FROM jac WHERE j >= 0.5 ORDER BY id_a, id_b""".stripMargin,
    // the exact all-pairs truth restricted to delta-touching pairs
    // (delta ids are in the +1e6/+2e6 bands)
    "d8_neardup_incremental" ->
      s"""WITH $augmentedSql,
         |${tokSql("aug")},
         |$jacPairsSql
         |SELECT id_a, id_b, CAST(floor(j * 1e4) AS BIGINT) AS jaccard_x1e4
         |FROM jac WHERE j >= 0.5 AND (id_a >= 1000000 OR id_b >= 1000000)
         |ORDER BY id_a, id_b""".stripMargin,
    // RECURSIVE transitive closure over the SAME exact pair set d2
    // oracles: every node's canonical id = the minimum id reachable
    // through the dup graph — must equal the engine's connected
    // components exactly.
    "d5_dup_clusters" -> dupClustersOracleSql,
    "d7_keep_best" ->
      s"""WITH RECURSIVE $augmentedSql,
         |${tokSql("aug")},
         |$jacPairsSql,
         |prs AS (SELECT id_a, id_b FROM jac WHERE j >= 0.5),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM prs
         |          UNION SELECT id_b, id_a FROM prs),
         |reach(id, m) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT r.id, e.dst FROM reach r JOIN edges e ON e.src = r.m),
         |lab AS (SELECT id, min(m) AS label FROM reach GROUP BY id),
         |q AS (SELECT l.id, l.label, length(a.text) AS ql
         |      FROM lab l JOIN aug a ON a.doc_id = l.id),
         |best AS (SELECT label, id AS keep_id FROM q
         |         QUALIFY row_number() OVER (
         |           PARTITION BY label ORDER BY ql DESC, id) = 1)
         |SELECT q.id, b.keep_id FROM q JOIN best b USING (label)
         |ORDER BY q.id""".stripMargin,
    // d6 runs the star-contraction branch against the SAME closure
    // oracle — an independent SQL derivation both engine branches must
    // match exactly.
    "d6_dup_clusters_star" -> dupClustersOracleSql,
    "d3_neardup_simhash" ->
      s"""WITH $augmentedSql,
         |${tokSql("aug")},
         |$simhashSql
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
         |FROM sims a JOIN sims b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sig, b.sig)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,
    "t1_text_stats" ->
      """SELECT doc_id,
        |  length(text) AS n_chars,
        |  len(string_split_regex(trim(text), '\s+')) AS n_tokens,
        |  CAST(floor(10000.0 * length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
        |    / length(text)) AS BIGINT) AS alpha_x10k,
        |  CAST(floor(100.0 * length(regexp_replace(text, '\s+', '', 'g'))
        |    / len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS avg_wordlen_x100
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t5_split" ->
      """SELECT lang,
        |  CASE WHEN md5_number_lower(CAST(doc_id AS VARCHAR)) % 1000::UBIGINT
        |         < 800 THEN 'train'
        |       WHEN md5_number_lower(CAST(doc_id AS VARCHAR)) % 1000::UBIGINT
        |         < 900 THEN 'val'
        |       ELSE 'test' END AS split,
        |  count(*) AS n
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "t6_cap" ->
      """SELECT doc_id, lang FROM documents
        |QUALIFY row_number() OVER (
        |  PARTITION BY lang
        |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 20
        |ORDER BY lang, doc_id""".stripMargin,
    // identical kept set to t6, stated with the same single-window SQL —
    // the salted plan is an execution-shape change only
    "t7_cap_salted" ->
      """SELECT doc_id, lang FROM documents
        |QUALIFY row_number() OVER (
        |  PARTITION BY lang
        |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 20
        |ORDER BY lang, doc_id""".stripMargin,
    // Cavnar-Trenkle profile TRAINING reproduced in SQL: pad-normalized
    // text, character trigrams (middle-space grams dropped), counts,
    // 0-based rank with the (count desc, gram asc) tie-break, truncated
    // to the 300-gram profile. Column "rank" quoted (SQL keyword).
    "t9_lang_profiles" ->
      s"""WITH $langProfCtes
         |SELECT lang, gram, "rank", n FROM rk WHERE "rank" < 300
         |ORDER BY lang, "rank"""".stripMargin,
    // Trained-profile classification end-to-end: same profile CTEs, plus
    // per-doc ranked grams, out-of-place distance with the missing-gram
    // penalty (= 300), (dist, lang) argmin, script pre-gates and the
    // all-out-of-profile confidence gate. Integer arithmetic throughout.
    "t10_lang_classify" ->
      s"""WITH $langProfCtes,
         |prof AS (SELECT lang, gram, "rank" AS pr FROM rk WHERE "rank" < 300),
         |langs AS (SELECT DISTINCT lang FROM prof),
         |dgrams AS (
         |  SELECT doc_id, substr(s, i, 3) AS gram
         |  FROM norm, LATERAL (SELECT unnest(generate_series(1, length(s) - 2)) AS i) g
         |  WHERE substr(s, i + 1, 1) != ' '),
         |dcnt AS (SELECT doc_id, gram, count(*) AS dn FROM dgrams GROUP BY 1, 2),
         |dprof AS (
         |  SELECT doc_id, gram, dr FROM (
         |    SELECT doc_id, gram,
         |      row_number() OVER (PARTITION BY doc_id ORDER BY dn DESC, gram) - 1 AS dr
         |    FROM dcnt) WHERE dr < 300),
         |dist AS (
         |  SELECT d.doc_id, l.lang,
         |    sum(coalesce(abs(d.dr - p.pr), 300)) AS dist,
         |    count(*) AS doc_size
         |  FROM dprof d CROSS JOIN langs l
         |  LEFT JOIN prof p ON p.lang = l.lang AND p.gram = d.gram
         |  GROUP BY 1, 2),
         |best AS (
         |  SELECT doc_id,
         |    CASE WHEN dist >= doc_size * 300 THEN 'und' ELSE lang END AS pred
         |  FROM dist
         |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY dist, lang) = 1),
         |gat AS (
         |  SELECT doc_id, text,
         |    length(regexp_replace(text, '[^\\p{L}]', '', 'g')) AS letters,
         |    length(regexp_replace(text, '[^\\x{4E00}-\\x{9FFF}]', '', 'g')) AS cjk,
         |    length(regexp_replace(text, '[^\\x{0400}-\\x{04FF}]', '', 'g')) AS cyr
         |  FROM documents)
         |SELECT g.doc_id,
         |  CASE WHEN g.text IS NULL OR g.letters < 3 THEN 'und'
         |       WHEN g.cjk * 10 >= g.letters THEN 'zh'
         |       WHEN g.cyr * 10 >= g.letters THEN 'ru'
         |       ELSE coalesce(b.pred, 'und') END AS lang_pred
         |FROM gat g LEFT JOIN best b USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "t8_token_budget" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    len(string_split_regex(trim(text), '\s+')) AS n_ws_tokens
        |  FROM documents)
        |SELECT doc_id, lang, n_ws_tokens FROM d
        |QUALIFY sum(n_ws_tokens) OVER (
        |  PARTITION BY lang
        |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) <= 2000
        |ORDER BY lang, doc_id""".stripMargin,
    "t13_pack_sequences" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS toks
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, lang, toks,
        |    CAST(coalesce(sum(toks) OVER (
        |      PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS bfr
        |  FROM d WHERE toks > 0)
        |SELECT lang, doc_id, k AS seq_id,
        |  greatest(CAST(0 AS BIGINT), k * 512 - bfr) AS doc_start,
        |  least(toks, (k + 1) * 512 - bfr)
        |    - greatest(CAST(0 AS BIGINT), k * 512 - bfr) AS slice_len
        |FROM o, LATERAL (SELECT CAST(unnest(generate_series(
        |  bfr // 512, (bfr + toks - 1) // 512)) AS BIGINT) AS k) g
        |ORDER BY lang, seq_id, doc_id""".stripMargin,
    "t15_mixture" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        |w AS (SELECT * FROM (VALUES ('en', 400), ('zh', 300), ('es', 300))
        |        AS t(lang, wt)),
        |q AS (SELECT c.lang, wt, n * 1000 // wt AS t FROM c JOIN w USING (lang)),
        |tm AS (SELECT min(t) AS tmin FROM q),
        |k AS (SELECT lang, wt * tmin // 1000 AS keep FROM q, tm)
        |SELECT d.doc_id, d.lang FROM documents d JOIN k USING (lang)
        |QUALIFY row_number() OVER (
        |  PARTITION BY d.lang
        |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= keep
        |ORDER BY doc_id""".stripMargin,
    // the register file, rebuilt in SQL: idx = top 12 hash bits, rho =
    // leading zeros of the remaining 52 + 1 (bin() gives the bit length),
    // register = max rho — 2^52 = 4503599627370496
    "t14_hll_vocab" ->
      """WITH tok AS (
        |  SELECT lang, unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents),
        |h AS (SELECT lang, md5_number_lower(tok) AS h FROM tok),
        |r AS (
        |  SELECT lang,
        |    CAST(h // 4503599627370496::UBIGINT AS INTEGER) AS idx,
        |    CAST(CASE WHEN h % 4503599627370496::UBIGINT = 0::UBIGINT THEN 53
        |         ELSE 53 - length(bin(h % 4503599627370496::UBIGINT))
        |         END AS INTEGER) AS rho
        |  FROM h)
        |SELECT lang, idx, CAST(max(rho) AS INTEGER) AS reg
        |FROM r GROUP BY lang, idx
        |ORDER BY lang, idx""".stripMargin,
    "t11_pii_scrub" ->
      """WITH planted AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 13 = 0
        |      THEN ' Contact: user' || CAST(doc_id AS VARCHAR) || '@example.com for details.'
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 17 = 0
        |      THEN ' Call +1 555 ' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now.'
        |      ELSE '' END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
        |  CAST(len(regexp_extract_all(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+[0-9][0-9 -]{6,}[0-9]')) AS INTEGER) AS n_phones,
        |  regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+[0-9][0-9 -]{6,}[0-9]', '<PHONE>', 'g') AS clean_text
        |FROM planted ORDER BY doc_id""".stripMargin,
    // exact 8-gram overlap counts vs the %23 benchmark slice — same
    // tokenization as the d2/t2 oracles (trim+lower, \s+ split)
    "t16_decontaminate" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(toks[i:i+7], ' ') AS g
        |  FROM tk, LATERAL (SELECT unnest(generate_series(1, len(toks) - 7)) AS i) s),
        |bm AS (SELECT DISTINCT g FROM sh WHERE doc_id % 23 = 0)
        |SELECT sh.doc_id, count(*) AS n_overlap
        |FROM sh JOIN bm USING (g)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "t12_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE md5_number_lower(CAST(doc_id AS VARCHAR) || ':strat') % 1000::UBIGINT <
        |  CASE lang WHEN 'en' THEN 250 WHEN 'zh' THEN 500 ELSE 1000 END
        |ORDER BY doc_id""".stripMargin,
    "t4_token_quality" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])', 1)) AS n_bpe_tokens,
        |  len(string_split_regex(trim(text), '\s+')) AS n_ws_tokens,
        |  CAST(floor(10000.0 *
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |        t -> t IN ('the','and','of','to','is','in','that','it','with')))
        |    / len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS stop_x10k,
        |  CAST(floor(10000.0 *
        |    length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
        |    / length(text)) AS BIGINT) AS punct_x10k
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t3_fingerprint_md5" ->
      """SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS digest
        |FROM documents ORDER BY doc_id""".stripMargin,
    "d1_dedup_exact" ->
      s"""WITH $augmentedSql
         |SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS digest,
         |  min(doc_id) AS canonical_id, count(*) AS n_copies
         |FROM aug GROUP BY 1 ORDER BY canonical_id""".stripMargin,
    "d4_embedding_neardup" ->
      s"""WITH $qvecSql,
         |scored AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    ${pairScoreSql("a.q", "b.q")} AS cos
         |  FROM qv a JOIN qv b ON a.vec_id < b.vec_id)
         |SELECT id_a, id_b, CAST(floor(cos * 1e6) AS BIGINT) AS cos_x1e6
         |FROM scored WHERE cos >= 0.5 ORDER BY id_a, id_b""".stripMargin,
    // the exact all-pairs cosine truth over corpus + delta, restricted to
    // delta-touching pairs (delta ids in the +1e6/+2e6 bands); the delta's
    // sign flips are applied BEFORE quantization, matching the engine
    // (DuckDB lambda index is 1-based, Spark's 0-based -> (i-1) % 11)
    "d9_embedding_neardup_inc" ->
      s"""WITH dsrc AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id % 9 = 0
         |  UNION ALL
         |  SELECT vec_id + 2000000,
         |    list_transform(embedding,
         |      (x, i) -> CASE WHEN (i - 1) % 11 = 0 THEN -x ELSE x END)
         |  FROM embeddings WHERE vec_id % 13 = 0),
         |qv AS (
         |  SELECT vec_id, list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS q
         |  FROM dsrc),
         |scored AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    ${pairScoreSql("a.q", "b.q")} AS cos
         |  FROM qv a JOIN qv b ON a.vec_id < b.vec_id)
         |SELECT id_a, id_b, CAST(floor(cos * 1e6) AS BIGINT) AS cos_x1e6
         |FROM scored WHERE cos >= 0.5 AND (id_a >= 1000000 OR id_b >= 1000000)
         |ORDER BY id_a, id_b""".stripMargin,
    "s1_knn_brute" ->
      s"""WITH $qvecSql,
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |    ${pairScoreSql("q.q", "c.q")} AS score
         |  FROM qv q JOIN qv c ON q.vec_id < 8 AND c.vec_id <> q.vec_id),
         |ranked AS (
         |  SELECT query_id, cand_id, score,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, cand_id) AS rank
         |  FROM scored)
         |SELECT query_id, rank, cand_id,
         |  CAST(floor(score * 1e6) AS BIGINT) AS score_x1e6
         |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    // s2/s3 oracle: exact brute-force top-5 over the SAME augmented corpus
    // (planted sign-flip near-neighbors) — each ANN plan must reproduce it
    // bit-for-bit (recall 1.0 under deterministic hashing/quantization:
    // the honest way to hash-verify an ANN path).
    "s3_knn_ivf" -> augKnnOracleSql,
    "s2_knn_lsh" -> augKnnOracleSql,
    "s4_knn_ivf_bulk" -> augKnnOracleSql,
    "s5_knn_ivf_index" -> augKnnOracleSql,
    "s6_knn_ivf_index_bulk" -> augKnnOracleSql,
    "s7_knn_pq" -> augKnnOracleSql,
    "s8_knn_ivfpq" -> augKnnOracleSql)

  private lazy val augKnnOracleSql: String =
    s"""WITH aug AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 10000 * (j + 1),
       |    list_transform(generate_series(1, len(embedding)),
       |      i -> CASE WHEN ((i - 1) % 13) = j THEN -embedding[i]
       |           ELSE embedding[i] END)
       |  FROM embeddings, (SELECT unnest(generate_series(0, 4)) AS j) js
       |  WHERE vec_id < 8),
       |qv AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS q
       |  FROM aug),
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |    ${pairScoreSql("q.q", "c.q")} AS score
       |  FROM qv q JOIN qv c ON q.vec_id < 8 AND c.vec_id <> q.vec_id),
       |ranked AS (
       |  SELECT query_id, cand_id, score,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, cand_id) AS rank
       |  FROM scored)
       |SELECT query_id, rank, cand_id,
       |  CAST(floor(score * 1e6) AS BIGINT) AS score_x1e6
       |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
}
