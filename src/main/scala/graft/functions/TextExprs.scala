package graft.functions

import graft.audio.AudioSynth.{hash64, mix64}

/** Text-analysis primitives for the training-data pipeline operators:
  * language-ID, SimHash, MinHash and winnowing fingerprints — the bodies
  * of native Catalyst kernels (see [[Kernels]]; single pass, codegen'd via
  * static calls, no UDF serialization, no boxing) so they hold up in a
  * 100 TB scan stage.
  */
object TextOps {

  // ---------------------------------------------------------------- langid

  /** Marker stopwords per language (tiny n-gram-free heuristic; enough to
    * separate the five fixture languages deterministically). */
  val markers: Seq[(String, Set[String])] = Seq(
    "en" -> Set("the", "and", "of", "to", "is", "in", "that", "it", "with"),
    "es" -> Set("el", "la", "los", "las", "que", "de", "y", "en", "un", "una", "es"),
    "de" -> Set("der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit", "zu"),
    "fr" -> Set("le", "la", "les", "et", "est", "une", "dans", "que", "pour", "des"))

  /** Deterministic language-ID: CJK chars -> zh; Cyrillic -> ru; else the
    * marker-count argmax (ties resolved by the fixed order above); no
    * markers at all -> "und". */
  def langId(text: String): String = {
    if (text == null || text.isEmpty) return "und"
    var i = 0
    var cjk = 0; var cyr = 0; var letters = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (c >= 0x4E00 && c <= 0x9FFF) cjk += 1
      else if (c >= 0x0400 && c <= 0x04FF) cyr += 1
      if (Character.isLetter(c)) letters += 1
      i += 1
    }
    if (letters == 0) return "und"
    if (cjk * 10 >= letters) return "zh"
    if (cyr * 10 >= letters) return "ru"
    val toks = tokenize(text.toLowerCase)
    var best = "und"; var bestN = 0
    markers.foreach { case (lang, set) =>
      val n = toks.count(set.contains)
      if (n > bestN) { best = lang; bestN = n }
    }
    best
  }

  def tokenize(text: String): Array[String] =
    text.trim.split("\\s+").filter(_.nonEmpty)

  // ------------------------------------------- n-gram profile language-ID

  /** Character-trigram profile language-ID (Cavnar & Trenkle, "N-Gram-Based
    * Text Categorization", 1994 — public algorithm): each language is a
    * ranked list of its most frequent character trigrams, a document is
    * classified to the language minimizing the OUT-OF-PLACE distance
    * between its own trigram ranking and the language profile. Profiles
    * are built at class-init from small embedded seed paragraphs (original
    * text), so the expression stays dependency-free and deterministic.
    *
    * Compared to the marker-stopword heuristic (`langId`, kept as the
    * oracled variant — profile tables are not reasonably SQL-expressible):
    * this classifies sentences containing NO marker stopwords, and uses
    * accents/orthography (é/ü/ñ, sch/tion/ción) as evidence. Script
    * shortcuts (CJK -> zh, Cyrillic -> ru) match langId. */
  object LangProfiles {
    val ProfileSize = 300
    /** Seed paragraphs (original text written for this table). */
    private val seeds: Seq[(String, String)] = Seq(
      "en" -> ("the weather was cold and the children walked to school " +
        "with their books. she said that it would rain before the evening " +
        "and that they should bring something warm to wear. there is " +
        "always a reason to stay and watch the light change over the " +
        "water. people often forget how much work goes into making bread " +
        "at home. you need time, patience, and a warm place for the dough " +
        "to rise. when it finally comes out of the oven, the whole house " +
        "smells wonderful. a question without an answer is still worth " +
        "asking, because thinking about it teaches you what you believe."),
      "es" -> ("el tiempo era frío y los niños caminaban a la escuela con " +
        "sus libros. ella dijo que llovería antes de la tarde y que " +
        "deberían llevar algo caliente. siempre hay una razón para " +
        "quedarse y mirar la luz cambiar sobre el agua. la gente a menudo " +
        "olvida cuánto trabajo lleva hacer pan en casa. se necesita " +
        "tiempo, paciencia y un lugar cálido para que la masa suba. " +
        "cuando finalmente sale del horno, toda la casa huele maravilloso. " +
        "una pregunta sin respuesta sigue valiendo la pena, porque pensar " +
        "en ella te enseña lo que crees."),
      "de" -> ("das wetter war kalt und die kinder gingen mit ihren " +
        "büchern zur schule. sie sagte, dass es vor dem abend regnen " +
        "würde und dass sie etwas warmes mitbringen sollten. es gibt " +
        "immer einen grund zu bleiben und zu sehen, wie sich das licht " +
        "über dem wasser verändert. die leute vergessen oft, wie viel " +
        "arbeit es macht, zu hause brot zu backen. man braucht zeit, " +
        "geduld und einen warmen ort, damit der teig aufgehen kann. wenn " +
        "es endlich aus dem ofen kommt, riecht das ganze haus wunderbar. " +
        "eine frage ohne antwort ist immer noch wertvoll, weil das " +
        "nachdenken darüber zeigt, was man glaubt."),
      "fr" -> ("le temps était froid et les enfants marchaient à l'école " +
        "avec leurs livres. elle a dit qu'il pleuvrait avant le soir et " +
        "qu'ils devraient apporter quelque chose de chaud. il y a " +
        "toujours une raison de rester et de regarder la lumière changer " +
        "sur l'eau. les gens oublient souvent combien de travail il faut " +
        "pour faire du pain à la maison. il faut du temps, de la patience " +
        "et un endroit chaud pour que la pâte lève. quand il sort enfin " +
        "du four, toute la maison sent merveilleusement bon. une question " +
        "sans réponse vaut encore la peine, parce qu'y réfléchir montre " +
        "ce que l'on croit."))

    /** The seed corpus, exposed for the LangProfile.fit parity spec (the
      * distributed trainer must reproduce these profiles exactly). */
    def seedCorpus: Seq[(String, String)] = seeds

    /** Normalize: lowercase, non-letters -> single spaces, padded. */
    def normalize(text: String): String = {
      val sb = new java.lang.StringBuilder(text.length + 2)
      sb.append(' ')
      var lastSpace = true
      var i = 0
      while (i < text.length) {
        val c = text.charAt(i)
        if (Character.isLetter(c)) {
          sb.append(Character.toLowerCase(c)); lastSpace = false
        } else if (!lastSpace) { sb.append(' '); lastSpace = true }
        i += 1
      }
      if (!lastSpace) sb.append(' ')
      sb.toString
    }

    /** Trigram -> frequency over the normalized text (all-space trigrams
      * skipped); text bounded to `maxChars` for per-row cost control. */
    def trigramCounts(text: String, maxChars: Int = 4096): java.util.HashMap[String, Integer] = {
      val s = normalize(if (text.length > maxChars) text.substring(0, maxChars) else text)
      val m = new java.util.HashMap[String, Integer]()
      var i = 0
      while (i + 3 <= s.length) {
        val g = s.substring(i, i + 3)
        if (!(g.charAt(1) == ' '))
          m.merge(g, Integer.valueOf(1), (a, b) => Integer.valueOf(a.intValue + b.intValue))
        i += 1
      }
      m
    }

    /** Ranked profile: trigram -> rank (0 = most frequent), ties broken
      * lexicographically for determinism, truncated to ProfileSize. */
    def rankedProfile(counts: java.util.HashMap[String, Integer]): java.util.HashMap[String, Integer] = {
      val entries = new java.util.ArrayList(counts.entrySet())
      entries.sort { (a, b) =>
        val c = Integer.compare(b.getValue.intValue, a.getValue.intValue)
        if (c != 0) c else a.getKey.compareTo(b.getKey)
      }
      val out = new java.util.HashMap[String, Integer]()
      var r = 0
      val n = math.min(entries.size(), ProfileSize)
      while (r < n) { out.put(entries.get(r).getKey, Integer.valueOf(r)); r += 1 }
      out
    }

    val languages: Array[String] = seeds.map(_._1).toArray
    val profiles: Array[java.util.HashMap[String, Integer]] =
      seeds.map { case (_, s) => rankedProfile(trigramCounts(s, Int.MaxValue)) }.toArray
  }

  /** N-gram-profile language-ID (see LangProfiles). Same output domain as
    * `langId` ("en"/"es"/"de"/"fr"/"zh"/"ru"/"und"). */
  def langIdNgram(text: String): String = {
    if (text == null || text.isEmpty) return "und"
    var i = 0
    var cjk = 0; var cyr = 0; var letters = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (c >= 0x4E00 && c <= 0x9FFF) cjk += 1
      else if (c >= 0x0400 && c <= 0x04FF) cyr += 1
      if (Character.isLetter(c)) letters += 1
      i += 1
    }
    if (letters < 3) return "und"
    if (cjk * 10 >= letters) return "zh"
    if (cyr * 10 >= letters) return "ru"
    val doc = LangProfiles.rankedProfile(LangProfiles.trigramCounts(text))
    if (doc.isEmpty) return "und"
    val maxRank = LangProfiles.ProfileSize
    var best = -1; var bestD = Long.MaxValue
    var l = 0
    while (l < LangProfiles.languages.length) {
      val prof = LangProfiles.profiles(l)
      var d = 0L
      val it = doc.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val pr = prof.get(e.getKey)
        d += (if (pr == null) maxRank
              else math.abs(e.getValue.intValue - pr.intValue))
      }
      if (d < bestD) { bestD = d; best = l }
      l += 1
    }
    // confidence gate: a document whose every trigram is out-of-profile
    // (distance == docSize * maxRank) matches nothing
    if (bestD >= doc.size().toLong * maxRank) "und"
    else LangProfiles.languages(best)
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Oracle-portable 64-bit string hash: bit-identical to DuckDB's
    * `md5_number_lower(s)` (md5 digest bytes 8..15, little-endian, as
    * UBIGINT — carried here in a signed Long with the same bit pattern).
    * Used wherever hash VALUES are part of an oracled output (simhash
    * votes, winnowing fingerprints); pair it with UNSIGNED comparisons so
    * orderings match DuckDB's UBIGINT. The throughput-oriented paths
    * (minhash shingles, jaccard) keep the faster splitmix hash64 — their
    * oracles compare set overlap, not hash values. */
  def portableHash64(s: String): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h = 0L
    var i = 15
    while (i >= 8) { h = (h << 8) | (d(i) & 0xFFL); i -= 1 }
    h
  }

  /** Unsigned `portableHash64 mod n` — see [[Kernels.PortableBucket]]. */
  def portableBucket(s: String, n: Int): Int = {
    require(n >= 1, s"bucket count must be >= 1, got $n")
    java.lang.Long.remainderUnsigned(portableHash64(s), n.toLong).toInt
  }

  /** Resolve `rel` against `base` (java.net.URI semantics; malformed
    * inputs pass `rel` through, like the reference's lenient handling). */
  def relUrl(base: String, rel: String): String =
    try new java.net.URI(base).resolve(rel).toString
    catch { case _: Exception => rel }

  // --------------------------------------------------------------- simhash

  /** 64-bit SimHash over whitespace tokens (Charikar): per-token stable
    * hash votes per bit; sign of the vote sum forms the signature. Token
    * hash is the oracle-portable md5 lower half, so the full signature is
    * reproducible in DuckDB SQL (see DocQueries d3/t2 oracles). */
  def simHash(text: String): Long = {
    val votes = new Array[Int](64)
    for (t <- tokenize(text.toLowerCase)) {
      val h = portableHash64(t)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  // --------------------------------------------------------------- minhash

  /** Word 3-gram shingle hashes (stable FNV-based). */
  def shingleHashes(text: String, n: Int = 3): Array[Long] = {
    val toks = tokenize(text.toLowerCase)
    if (toks.length < n) {
      if (toks.isEmpty) Array.empty else Array(hash64(toks.mkString(" ")))
    } else {
      val out = new Array[Long](toks.length - n + 1)
      var i = 0
      while (i + n <= toks.length) {
        out(i) = hash64(toks.slice(i, i + n).mkString(" "))
        i += 1
      }
      out
    }
  }

  private val MersennePrime = (1L << 61) - 1

  /** k MinHash values over the shingle set; permutation i is
    * h_i(x) = (a_i * x + b_i) mod p with seeded (a_i, b_i). */
  def minHash(text: String, k: Int = 32, shingleN: Int = 3): Array[Long] = {
    val sh = shingleHashes(text, shingleN)
    val sig = Array.fill(k)(Long.MaxValue)
    if (sh.isEmpty) return sig
    var i = 0
    while (i < k) {
      val a = (mix64(0xA11CE_000L + i) & MersennePrime) | 1L
      val b = mix64(0xB0B_000L + i) & MersennePrime
      var m = Long.MaxValue
      var j = 0
      while (j < sh.length) {
        // multiply mod 2^61-1 via math.multiplyHigh-free route: use
        // BigInt-free 128-bit emulation with Math.multiplyHigh (JDK 9+)
        val x = sh(j) & MersennePrime
        val hi = Math.multiplyHigh(a, x)
        val lo = a * x
        // fold 128-bit product mod 2^61-1
        var r = (lo & MersennePrime) + ((lo >>> 61) | (hi << 3)) + b
        r = (r & MersennePrime) + (r >>> 61)
        if (r >= MersennePrime) r -= MersennePrime
        if (r < m) m = r
        j += 1
      }
      sig(i) = m
      i += 1
    }
    sig
  }

  /** Estimated Jaccard similarity from two MinHash signatures. */
  def minHashSim(a: Array[Long], b: Array[Long]): Double = {
    var eq = 0; var i = 0
    while (i < a.length) { if (a(i) == b(i)) eq += 1; i += 1 }
    eq.toDouble / a.length
  }

  /** Exact n-gram Jaccard similarity of two texts. */
  def jaccard(a: String, b: String, n: Int = 3): Double = {
    val sa = shingleHashes(a, n).toSet
    val sb = shingleHashes(b, n).toSet
    if (sa.isEmpty && sb.isEmpty) 1.0
    else {
      val inter = sa.intersect(sb).size
      inter.toDouble / (sa.size + sb.size - inter)
    }
  }

  /** Word 3-gram shingle hashes with the ORACLE-PORTABLE hash (winnowing
    * emits the hash values themselves, so they must be reproducible in
    * DuckDB — md5_number_lower over the joined shingle words). */
  def portableShingleHashes(text: String, n: Int = 3): Array[Long] = {
    val toks = tokenize(text.toLowerCase)
    if (toks.length < n) {
      if (toks.isEmpty) Array.empty else Array(portableHash64(toks.mkString(" ")))
    } else {
      val out = new Array[Long](toks.length - n + 1)
      var i = 0
      while (i + n <= toks.length) {
        out(i) = portableHash64(toks.slice(i, i + n).mkString(" "))
        i += 1
      }
      out
    }
  }

  /** Winnowing fingerprint set (Schleimer et al., MOSS): the distinct
    * minimum shingle hash of each sliding window of `w` — a small edit
    * changes only the windows that cover it, so two near-duplicate
    * documents share most selected fingerprints (similarity = overlap of
    * the sets). Hashes are oracle-portable (md5 lower half) and ALL
    * comparisons are unsigned so mins/sort match DuckDB's UBIGINT
    * semantics; returned sorted (unsigned) for deterministic output. */
  def winnowFingerprint(text: String, w: Int = 4): Array[Long] = {
    val sh = portableShingleHashes(text, 3)
    def uLess(a: Long, b: Long): Boolean = java.lang.Long.compareUnsigned(a, b) < 0
    if (sh.isEmpty) return Array.empty
    if (sh.length <= w) return Array(sh.reduce((a, b) => if (uLess(a, b)) a else b))
    val sel = new scala.collection.mutable.HashSet[Long]()
    var i = 0
    while (i + w <= sh.length) {
      var m = sh(i)
      var j = i + 1
      while (j < i + w) { if (uLess(sh(j), m)) m = sh(j); j += 1 }
      sel.add(m)
      i += 1
    }
    val out = sel.toArray
    java.util.Arrays.sort(out)
    // signed sort puts negatives (unsigned-LARGER) first; rotate them to
    // the back => unsigned ascending order
    val nNeg = out.count(_ < 0)
    if (nNeg == 0 || nNeg == out.length) out
    else {
      val res = new Array[Long](out.length)
      System.arraycopy(out, nNeg, res, 0, out.length - nNeg)
      System.arraycopy(out, 0, res, out.length - nNeg, nNeg)
      res
    }
  }
}
