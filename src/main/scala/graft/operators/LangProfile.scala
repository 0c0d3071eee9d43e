package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TRAINABLE Cavnar-Trenkle language-ID (n-gram rank profiles, "N-Gram-Based
  * Text Categorization", 1994 — public algorithm): the distributed
  * fit/classify pair over the embedded-seed expression path
  * (`TextOps.langIdNgram`). `fit` builds language profiles from any labeled
  * corpus — the ROADMAP's "profile tables from a dataset rather than
  * embedded seeds" — and `classify` applies them; both are pure DataFrame
  * plans of codegen'd built-ins (no UDFs).
  *
  * Scale shape (the 100 TB question):
  *  - fit: trigram explode -> ONE partial-agg-friendly shuffle on
  *    (lang, gram) -> a window over the aggregated gram table (bounded:
  *    distinct trigrams per language, not corpus rows). Output is tiny
  *    (languages x profileSize rows).
  *  - classify: the per-doc gram ranking shuffles (doc_id, gram) counts —
  *    linear, partial-agg; profiles and the language list ride BROADCAST
  *    joins, so nothing corpus-sized is exchanged beyond the doc-gram agg.
  *
  * Tokenization contract (shared with `TextOps.LangProfiles.normalize` /
  * `trigramCounts`, spec-pinned by the seed-parity test AND mirrored in the
  * t9 DuckDB oracle): lowercase; runs of non-letters collapse to a single
  * space; one leading and one trailing pad space; character trigrams whose
  * MIDDLE char is a space are dropped; per-row cost bounded by `maxChars`.
  * Ranks are 0-based by (count desc, gram asc) — ties deterministic. */
object LangProfile {

  /** ' ' + collapsed-lowercase-letters + ' ' (single ' ' if no letters) —
    * the Column form of LangProfiles.normalize. */
  private def normText(c: Column): Column = {
    val collapsed = trim(regexp_replace(lower(c), "[^\\p{L}]+", " "))
    when(collapsed === "", lit(" "))
      .otherwise(concat(lit(" "), collapsed, lit(" ")))
  }

  /** Trigram slices of an ALREADY-MATERIALIZED normalized-string column.
    * The normalized string must be a projected attribute, not an inline
    * expression tree: a subtree inside a higher-order-function lambda is
    * re-evaluated PER ELEMENT (no CSE across lambda bodies — measured 10x
    * on the regex normalize chain), while an attribute is computed once
    * per row and each element just slices it. */
  private def trigramsFromNorm(s: Column): Column = {
    val idx = when(length(s) >= 3, sequence(lit(1), length(s) - 2))
      .otherwise(array().cast("array<int>"))
    filter(transform(idx, i => s.substr(i, lit(3))),
      g => substring(g, 2, 1) =!= " ")
  }

  /** All character trigrams (with repetition) of the normalized bounded
    * text, middle-space grams dropped. Prefer the two-step projection
    * (normalize into a column, then [[trigramsFromNorm]]) in plans — see
    * that method's note. */
  def trigrams(c: Column, maxChars: Int = 4096): Column =
    trigramsFromNorm(normText(substring(c, 1, maxChars)))

  /** Train (lang, gram, rank, n) profiles from a labeled corpus. */
  def fit(df: DataFrame, textCol: String, langCol: String,
          profileSize: Int = 300, maxChars: Int = 4096): DataFrame =
    df.select(col(langCol).as("lang"),
        normText(substring(col(textCol), 1, maxChars)).as("_s"))
      .select(col("lang"), explode(trigramsFromNorm(col("_s"))).as("gram"))
      .groupBy("lang", "gram").agg(count(lit(1)).as("n"))
      .withColumn("rank",
        (row_number().over(Window.partitionBy("lang")
          .orderBy(desc("n"), asc("gram"))) - 1).cast("long"))
      .filter(col("rank") < profileSize)
      .select("lang", "gram", "rank", "n")

  /** Classify each document to the trained language minimizing the
    * out-of-place distance, with the SAME pre-gates and confidence gate as
    * `langIdNgram`: <3 letters -> und, CJK-share -> zh, Cyrillic-share ->
    * ru, all-grams-out-of-profile -> und. `langPriority` fixes the
    * distance-tie order (the expression path ties on seed order; default
    * alphabetical). Output: (idCol, lang_pred). */
  def classify(docs: DataFrame, textCol: String, idCol: String,
               profiles: DataFrame, profileSize: Int = 300,
               maxChars: Int = 4096,
               langPriority: Seq[String] = Seq.empty): DataFrame = {
    val id = col(idCol)
    val txt = col(textCol)
    val letters = length(regexp_replace(txt, "[^\\p{L}]", ""))
    val cjk = length(regexp_replace(txt, "[^\\x{4E00}-\\x{9FFF}]", ""))
    val cyr = length(regexp_replace(txt, "[^\\x{0400}-\\x{04FF}]", ""))
    val gated = docs.select(id, txt,
      when(txt.isNull || letters < 3, "und")
        .when(cjk * 10 >= letters, "zh")
        .when(cyr * 10 >= letters, "ru").as("_gate"))

    // per-doc ranked gram profile (same ranking contract as fit)
    val docProf = gated.filter(col("_gate").isNull)
      .select(id, normText(substring(txt, 1, maxChars)).as("_s"))
      .select(id, explode(trigramsFromNorm(col("_s"))).as("gram"))
      .groupBy(idCol, "gram").agg(count(lit(1)).as("dn"))
      .withColumn("dr",
        (row_number().over(Window.partitionBy(idCol)
          .orderBy(desc("dn"), asc("gram"))) - 1).cast("long"))
      .filter(col("dr") < profileSize)

    val prio =
      if (langPriority.isEmpty) col("lang")
      else expr("array_position(array(" +
        langPriority.map(l => s"'$l'").mkString(",") + "), lang)")
    // r7 (guide §2.3 — shuffle/scan fewer rows): the former shape
    // cross-joined every ranked doc gram against every language (docProf
    // x |langs| rows, ~13x blowup) and left-joined profiles to mark the
    // misses. The out-of-place distance decomposes as
    //   dist(doc, lang) = sum_matched |dr - pr|
    //                   + profileSize * (doc_size - n_matched)
    // so an INNER broadcast join on gram alone (only profile-present
    // grams survive — the rows that carry information) plus per-doc
    // gram counts reconstructs the identical dist for every language
    // with at least one matched gram. Languages with ZERO matched grams
    // had dist = profileSize*doc_size, while any matched language has
    // dist <= profileSize*doc_size - 1 (each |dr-pr| <= profileSize-1),
    // so an all-unmatched language can never win the argmin — and when
    // NO language matches at all, the missing best row coalesces to
    // "und" exactly as the old all-unmatched distance did through the
    // confidence gate. Output provably identical; the t10 oracle stays
    // hash-green.
    val docSize = docProf.groupBy(idCol).agg(count(lit(1)).as("doc_size"))
    val dist = docProf
      .join(broadcast(profiles.select(col("lang"), col("gram"),
        col("rank").as("pr"))), Seq("gram"))
      .groupBy(idCol, "lang")
      .agg(sum(abs(col("dr") - col("pr"))).as("_mdist"),
        count(lit(1)).as("_nm"))
      .join(docSize, Seq(idCol))
      .select(id, col("lang"),
        (col("_mdist") +
          (col("doc_size") - col("_nm")) * profileSize.toLong).as("dist"),
        col("doc_size"))
    val best = dist
      .withColumn("_rn", row_number().over(
        Window.partitionBy(idCol).orderBy(col("dist"), prio, col("lang"))))
      .filter(col("_rn") === 1)
      .select(id,
        when(col("dist") >= col("doc_size") * profileSize, "und")
          .otherwise(col("lang")).as("_pred"))
    gated.join(best, Seq(idCol), "left")
      .select(id,
        coalesce(col("_gate"), col("_pred"), lit("und")).as("lang_pred"))
  }
}
