package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.catalyst.expressions.Expression

import graft.TestSpark
import graft.functions.{KernelCall, Kernels, TextOps}

/** Training-data pipeline operators: language-ID, SimHash, MinHash/LSH,
  * winnowing, dedup and ANN similarity — correctness + recall. */
class PipelineOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** Each pair holds one float-table kernel call over two equal tables
    * built apart: they must be one expression to CSE and plan strings. */
  private def assertSameTable(pairs: Seq[(Expression, Expression)]): Unit =
    pairs.foreach { case (a, b) =>
      assert(a.semanticEquals(b) && a.hashCode == b.hashCode, s"$a vs $b")
      assert(a.toString == b.toString && !a.toString.contains("[F@"), a.toString)
    }

  // ------------------------------------------------------------- text ops

  test("lang_id identifies fixture sentences per language") {
    assert(TextOps.langId("the cat sat on the mat and it is warm in here") == "en")
    assert(TextOps.langId("el perro corre en la calle y es un dia bonito") == "es")
    assert(TextOps.langId("der Hund und die Katze, das ist nicht ein Problem mit zu") == "de")
    assert(TextOps.langId("le chat est dans les jardins pour une promenade") == "fr")
    assert(TextOps.langId("今天天气很好我们去公园") == "zh")
    assert(TextOps.langId("xyzzy qwerty plugh") == "und")
    assert(TextOps.langId("") == "und")
  }

  test("lang_id_ngram beats the marker heuristic on held-out sentences") {
    // Held-out sentences (disjoint from the embedded seed paragraphs),
    // including marker-free ones the stopword heuristic cannot classify.
    val heldOut: Seq[(String, String)] = Seq(
      "en" -> "my brother plays football every sunday afternoon near our house",
      "en" -> "green apples taste better when slightly cold",
      "en" -> "could you tell me where i might find a decent bookshop around here",
      "en" -> "strong coffee keeps me awake during long winter nights",
      "es" -> "mi hermano juega al fútbol todos los domingos por la tarde",
      "es" -> "las manzanas verdes saben mejor cuando están un poco frías",
      "es" -> "¿podría decirme dónde encuentro una buena librería por aquí?",
      "es" -> "el café fuerte me mantiene despierto durante las noches largas",
      "de" -> "mein bruder spielt jeden sonntagnachmittag fußball im park",
      "de" -> "grüne äpfel schmecken besser, wenn sie etwas kälter sind",
      "de" -> "könnten sie mir sagen, wo ich hier eine gute buchhandlung finde?",
      "de" -> "starker kaffee hält mich in langen winternächten wach",
      "fr" -> "mon frère joue au football tous les dimanches après-midi",
      "fr" -> "les pommes vertes ont meilleur goût quand elles sont fraîches",
      "fr" -> "pourriez-vous me dire où trouver une bonne librairie par ici ?",
      "fr" -> "un café fort me tient éveillé pendant les longues nuits d'hiver",
      "zh" -> "今天天气很好我们去公园散步吧",
      "ru" -> "сегодня хорошая погода и мы идём гулять в парк")
    val ngramRight = heldOut.count { case (l, s) => TextOps.langIdNgram(s) == l }
    val markerRight = heldOut.count { case (l, s) => TextOps.langId(s) == l }
    assert(ngramRight >= (heldOut.size * 0.9).toInt,
      s"ngram accuracy $ngramRight/${heldOut.size}: " +
        heldOut.map { case (l, s) => s"$l->${TextOps.langIdNgram(s)}" }.mkString(", "))
    assert(ngramRight > markerRight,
      s"ngram ($ngramRight) should beat markers ($markerRight) on held-out text")
    // degenerate inputs stay und
    assert(TextOps.langIdNgram("") == "und")
    assert(TextOps.langIdNgram("12345 --- !!!") == "und")
  }

  test("LangProfile.fit reproduces the embedded seed profiles bit-for-bit") {
    import graft.functions.TextOps.LangProfiles
    val seedsDf = LangProfiles.seedCorpus.toDF("lang", "text")
    val fitted = LangProfile.fit(seedsDf, "text", "lang")
    val got: Map[String, Map[String, Long]] = fitted
      .select("lang", "gram", "rank").as[(String, String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => t._2 -> t._3).toMap).toMap
    val want: Map[String, Map[String, Long]] =
      LangProfiles.languages.zip(LangProfiles.profiles).map { case (l, p) =>
        import scala.jdk.CollectionConverters._
        l -> p.asScala.map { case (g, r) => g -> r.longValue() }.toMap
      }.toMap
    assert(got.keySet == want.keySet)
    for (l <- want.keySet)
      assert(got(l) == want(l), s"profile mismatch for $l")
  }

  test("LangProfile.classify matches langIdNgram on every sentence class") {
    import graft.functions.TextOps.LangProfiles
    val seedsDf = LangProfiles.seedCorpus.toDF("lang", "text")
    val fitted = LangProfile.fit(seedsDf, "text", "lang")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sentences = Seq(
      "my brother plays football every sunday afternoon near our house",
      "green apples taste better when slightly cold",
      "mi hermano juega al fútbol todos los domingos por la tarde",
      "las manzanas verdes saben mejor cuando están un poco frías",
      "mein bruder spielt jeden sonntagnachmittag fußball im park",
      "grüne äpfel schmecken besser, wenn sie etwas kälter sind",
      "mon frère joue au football tous les dimanches après-midi",
      "les pommes vertes ont meilleur goût quand elles sont fraîches",
      "今天天气很好我们去公园散步吧",           // CJK pre-gate
      "сегодня хорошая погода и мы идём гулять в парк", // Cyrillic pre-gate
      "",                                       // empty -> und
      "12345 --- !!!",                          // no letters -> und
      "ab",                                     // <3 letters -> und
      "xq zq jq vq kq wq")                      // letters but out-of-profile
    val docs = sentences.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("sid", "text")
    val preds = LangProfile.classify(docs, "text", "sid", fitted,
        langPriority = LangProfiles.languages.toSeq)
      .as[(Long, String)].collect().toMap
    sentences.zipWithIndex.foreach { case (s, i) =>
      assert(preds(i.toLong) == TextOps.langIdNgram(s),
        s"'$s': classify=${preds(i.toLong)} langIdNgram=${TextOps.langIdNgram(s)}")
    }
    // and the distributed path is deterministic under partitioning
    val again = LangProfile.classify(docs.repartition(5), "text", "sid",
        fitted, langPriority = LangProfiles.languages.toSeq)
      .as[(Long, String)].collect().toMap
    assert(again == preds)
    fitted.unpersist()
  }

  test("simhash: identical texts collide, near texts are close, far texts far") {
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val b = a + " appended"
    val c = "totally different words about completely other topics entirely unrelated"
    assert(TextOps.hamming(TextOps.simHash(a), TextOps.simHash(a)) == 0)
    assert(TextOps.hamming(TextOps.simHash(a), TextOps.simHash(b)) <= 12)
    assert(TextOps.hamming(TextOps.simHash(a), TextOps.simHash(c)) >= 16)
  }

  test("minhash similarity approximates exact jaccard") {
    val a = (1 to 40).map(i => s"w$i").mkString(" ")
    val b = (1 to 40).map(i => if (i % 5 == 0) s"x$i" else s"w$i").mkString(" ")
    val exact = TextOps.jaccard(a, b)
    val est = TextOps.minHashSim(TextOps.minHash(a, 64), TextOps.minHash(b, 64))
    assert(math.abs(exact - est) < 0.25, s"exact=$exact est=$est")
    assert(TextOps.minHashSim(TextOps.minHash(a, 32), TextOps.minHash(a, 32)) == 1.0)
  }

  test("winnowing fingerprints: near-dup texts share most fingerprints") {
    val a = (1 to 60).map(i => s"tok$i").mkString(" ")
    val b = (1 to 60).map(i => if (i == 30) "EDITED" else s"tok$i").mkString(" ")
    val fa = TextOps.winnowFingerprint(a).toSet
    val fb = TextOps.winnowFingerprint(b).toSet
    val overlap = fa.intersect(fb).size.toDouble / math.max(fa.size, fb.size)
    assert(overlap >= 0.6, s"overlap=$overlap")
    // and an unrelated text shares ~none
    val fc = TextOps.winnowFingerprint((1 to 60).map(i => s"zzz$i").mkString(" ")).toSet
    assert(fa.intersect(fc).isEmpty)
  }

  // ---------------------------------------------------------------- dedup

  private lazy val docsAug = {
    val d = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    d.unionByName(d.filter($"doc_id" % 7 === 0)
        .select(($"doc_id" + 1000000).as("doc_id"), $"text"))
      .unionByName(d.filter($"doc_id" % 11 === 0)
        .select(($"doc_id" + 2000000).as("doc_id"),
          concat($"text", lit(" appended tail marker words")).as("text")))
      .cache()
  }

  test("exact dedup: every %7 doc collapses to its canonical id") {
    val res = Dedup.exact(docsAug, "text", "doc_id")
    val dups = res.filter($"n_copies" > 1)
    val nBase = spark.read.parquet(s"$sf/documents.parquet").count()
    val expected = (0L until nBase).count(_ % 7 == 0)
    assert(dups.count() == expected)
    assert(dups.filter($"canonical_id" >= 1000000).count() == 0) // canonical = original
  }

  test("minhash-LSH + jaccard verify finds exact and near duplicates") {
    val pairs = Dedup.nearDupJaccard(docsAug, "text", "doc_id", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val base = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id").as[Long].collect()
    val wantExact = base.filter(_ % 7 == 0).map(i => (i, i + 1000000)).toSet
    val wantNear = base.filter(_ % 11 == 0).map(i => (i, i + 2000000)).toSet
    val foundExact = wantExact.intersect(pairs).size.toDouble / wantExact.size
    val foundNear = wantNear.intersect(pairs).size.toDouble / wantNear.size
    assert(foundExact == 1.0, s"exact-dup recall $foundExact")
    assert(foundNear >= 0.8, s"near-dup recall $foundNear")
  }

  test("components: chains collapse to the min id; clusters stay separate") {
    // a 5-node chain (diameter test: the min must walk the whole chain),
    // a triangle, an isolated pair — all in one pair list
    val idPairs = Seq(
      (2L, 1L), (2L, 3L), (4L, 3L), (5L, 4L), // chain 1-2-3-4-5
      (10L, 11L), (11L, 12L), (10L, 12L),     // triangle
      (20L, 21L)                              // pair
    )
    val pairs = idPairs.toDF("id_a", "id_b")
    val got = Dedup.components(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    // deterministic under partitioning
    val again = Dedup.components(pairs.repartition(7))
      .as[(Long, Long)].collect().toMap
    assert(again == got)
    // String ids: the same topology, plus a pair whose minimum differs
    // between Spark's UTF-8 byte order ("\uFF21" < the emoji) and the
    // JVM's UTF-16 String.compareTo (the emoji's surrogate sorts first)
    def s(i: Long) = f"n$i%02d"
    val emoji = "\uD83D\uDE00"
    val strPairs = (idPairs.map { case (a, b) => (s(a), s(b)) } :+
      (emoji, "\uFF21")).toDF("id_a", "id_b")
    val strGot = Dedup.components(strPairs).as[(String, String)].collect().toMap
    assert(strGot == got.map { case (k, v) => s(k) -> s(v) } ++
      Map(emoji -> "\uFF21", "\uFF21" -> "\uFF21"))
    assert(Dedup.componentsStar(strPairs).as[(String, String)].collect().toMap == strGot)
    // a 29-chain labels fully; star contraction on it with a round budget
    // too small fails loudly instead of returning a half-contracted labeling
    val longChain = (1L until 30L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    assert(Dedup.components(longChain)
      .as[(Long, Long)].collect().forall(_._2 == 1L))
    intercept[IllegalArgumentException] {
      Dedup.componentsStar(longChain, maxIters = 2).collect()
    }
  }

  test("components: a 29-chain costs a bounded number of Spark jobs") {
    // a per-round algorithm pays jobs per unit of chain diameter (154 jobs
    // here for a one-round-per-unit propagation); the driver union-find
    // branch is the edge checkpoint, one collect and the caller's own
    // action (5 jobs) whatever the diameter. Jobs are counted by a
    // local-property tag so no other work in the session is counted.
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.spec") == "cc29"))
          jobs.incrementAndGet()
    }
    val longChain = (1L until 30L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.spec", "cc29")
    try {
      val got = Dedup.components(longChain, maxIters = 40).as[(Long, Long)].collect()
      assert(got.length == 30 && got.forall(_._2 == 1L))
    } finally {
      sc.setLocalProperty("graft.spec", null)
      org.apache.spark.graft.ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    assert(jobs.get() > 0 && jobs.get() <= 8,
      s"components ran ${jobs.get()} jobs on a 29-chain; per-round work is back")
  }

  test("componentsStar: same labeling as components; log rounds on a deep chain") {
    // identical output contract on the mixed fixture (chain + triangle +
    // isolated pair), deterministic under partitioning
    val pairs = Seq(
      (2L, 1L), (2L, 3L), (4L, 3L), (5L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)
    ).toDF("id_a", "id_b")
    val want = Dedup.components(pairs).as[(Long, Long)].collect().toMap
    val got = Dedup.componentsStar(pairs).as[(Long, Long)].collect().toMap
    assert(got == want)
    val again = Dedup.componentsStar(pairs.repartition(7))
      .as[(Long, Long)].collect().toMap
    assert(again == got)
    // the algorithmic claim, asserted through the loud-convergence guard:
    // a 64-node chain is diameter 63, but star contraction must finish
    // within 10 rounds (~log2 + slack); the public entry point (driver
    // union-find at this size) lands the same labeling
    val chain64 = (1L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val starLabels = Dedup.componentsStar(chain64, maxIters = 10)
      .as[(Long, Long)].collect()
    assert(starLabels.length == 64 && starLabels.forall(_._2 == 1L))
    assert(Dedup.components(chain64)
      .as[(Long, Long)].collect().toMap == starLabels.toMap)
    // self-pairs are ignored on both branches
    val selfy = Seq((7L, 7L), (8L, 9L)).toDF("id_a", "id_b")
    assert(Dedup.componentsStar(selfy).as[(Long, Long)].collect().toMap ==
      Map(8L -> 8L, 9L -> 8L))
    assert(Dedup.components(selfy).as[(Long, Long)].collect().toMap ==
      Map(8L -> 8L, 9L -> 8L))
  }

  test("componentsStar: agrees with components on the real near-dup pair graph") {
    val pairs = Dedup.nearDupJaccard(docsAug, "text", "doc_id", threshold = 0.5)
    val a = Dedup.components(pairs).as[(Long, Long)].collect().toMap
    val b = Dedup.componentsStar(pairs).as[(Long, Long)].collect().toMap
    assert(a.nonEmpty && b == a)
  }

  test("hashNearDup salted cell pairing: identical output on a hot-bucket corpus") {
    // exact-dup-heavy corpus: 80 rows share ONE signature (the hot
    // bucket the ROADMAP flagged for image corpora), 40 rows are random
    val hot = (0L until 80L).map(i => (f"h$i%03d", 0x5A5A5A5A5A5AL))
    val rnd = (0L until 40L).map(i =>
      (f"r$i%03d", graft.audio.AudioSynth.mix64(0xFACE + i)))
    val sigs = (hot ++ rnd).toDF("id", "sig")
    val plain = Dedup.hashNearDup(sigs, maxHamming = 3)
      .as[(String, String, Int)].collect().toSet
    val salted = Dedup.hashNearDup(sigs, maxHamming = 3, salts = 8)
      .as[(String, String, Int)].collect().toSet
    assert(plain.nonEmpty && salted == plain,
      s"missing: ${plain.diff(salted).take(5)}, extra: ${salted.diff(plain).take(5)}")
    // hot group of 80 pairs all-to-all: 3160 pairs at hamming 0
    assert(plain.count(_._3 == 0) == 80 * 79 / 2)
    // the candidate aggregation is keyed by the salt cells
    val aggs = Dedup.hashNearDup(sigs, maxHamming = 3, salts = 8)
      .queryExecution.analyzed.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
          if a.groupingExpressions.exists(_.references.exists(_.name == "_ca")) => a
      }
    assert(aggs.nonEmpty, "no cell-keyed candidate aggregation")
    // determinism under repartitioning
    val again = Dedup.hashNearDup(sigs.repartition(11), maxHamming = 3, salts = 8)
      .as[(String, String, Int)].collect().toSet
    assert(again == plain)
  }

  test("simhash near-dup finds exact copies at hamming 0") {
    val pairs = Dedup.simhashNearDup(docsAug, "text", "doc_id", maxHamming = 3)
    // original -> its exact copy only (copy-of-copy pairs are separate)
    val exactPairs = pairs.filter($"hamming" === 0 &&
      $"id_a" < 1000000L && $"id_b" === $"id_a" + 1000000L)
    val base = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id").as[Long].collect()
    assert(exactPairs.count() == base.count(_ % 7 == 0))
  }

  // ----------------------------------------------------------- similarity

  test("quantized cosine tracks float cosine within quantization error") {
    import graft.functions.GraftFunctions._
    val e = spark.read.parquet(s"$sf/embeddings.parquet").limit(50)
    val a = e.select($"vec_id".as("ia"), $"embedding".as("va"))
    val b = e.select($"vec_id".as("ib"), $"embedding".as("vb"))
    val rows = a.join(b, $"ia" < $"ib")
      .select(cosine_sim($"va", $"vb"), qcosine_sim($"va", $"vb"))
      .as[(Double, Double)].collect()
    rows.foreach { case (c, q) => assert(math.abs(c - q) < 0.01, s"$c vs $q") }
  }

  test("brute-force knn: top-1 matches a driver-side computation") {
    import graft.functions.GraftFunctions._
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val got = Similarity.bruteForceKnn(e, e.filter($"vec_id" === 0), k = 1)
      .select("cand_id").as[Long].head()
    val vecs = e.select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    val q = vecs.find(_._1 == 0L).get._2
    def qcos(a: Seq[Float], b: Seq[Float]): Double = {
      val qa = a.map(x => math.floor(x.toDouble * 10000).toLong)
      val qb = b.map(x => math.floor(x.toDouble * 10000).toLong)
      val dot = qa.zip(qb).map { case (x, y) => x * y }.sum
      val na = qa.map(x => x * x).sum; val nb = qb.map(x => x * x).sum
      if (na == 0 || nb == 0) 0.0 else dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
    }
    val want = vecs.filter(_._1 != 0L)
      .map { case (id, v) => (id, qcos(q, v)) }
      .sortBy { case (id, s) => (-s, id) }.head._1
    assert(got == want)
  }

  /** embeddings + planted near-neighbors (sign-flip copies, cos ~0.84) —
    * the same construction DocQueries.augEmb uses for the s2 oracle. */
  private lazy val embAug = {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding")
    val probes = e.filter($"vec_id" < 8)
    val copies = (0 until 5).map { j =>
      probes.select(($"vec_id" + lit(10000L * (j + 1))).as("vec_id"),
        transform($"embedding",
          (x, i) => when(i % 13 === j, -x).otherwise(x)).as("embedding"))
    }.reduce(_ unionByName _)
    e.unionByName(copies).cache()
  }

  test("multi-table LSH kNN returns the exact brute-force top-5 on planted neighbors") {
    val queries = embAug.filter($"vec_id" < 8)
    val brute = Similarity.bruteForceKnn(embAug, queries, k = 5)
      .select("query_id", "rank", "cand_id").as[(Long, Int, Long)].collect().toSet
    val lsh = Similarity.lshKnnTables(embAug, queries, k = 5, nBits = 6, nTables = 24)
      .select("query_id", "rank", "cand_id").as[(Long, Int, Long)].collect().toSet
    assert(brute.size == 40)
    assert(lsh == brute)
  }

  test("multi-table embedding near-dup finds every planted pair (recall 1.0 at threshold)") {
    val pairs = Dedup.embeddingNearDup(embAug, "embedding", "vec_id",
      threshold = 0.8, nBits = 4, nTables = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // ground truth: exact all-pairs qcosine over the SAME (tiny) planted
    // family — sign flips hit uneven component energy, so which pairs
    // clear 0.8 is data-dependent; derive it exactly instead of assuming
    import graft.functions.GraftFunctions._
    val fam = embAug.filter($"vec_id" % 10000 < 8)
    val a = fam.select($"vec_id".as("id_a"), $"embedding".as("va"))
    val b = fam.select($"vec_id".as("id_b"), $"embedding".as("vb"))
    val want = a.join(b, $"id_a" < $"id_b")
      .filter(qcosine_sim($"va", $"vb") >= 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(want.size >= 20, s"planted family too sparse: ${want.size}")
    assert(pairs == want,
      s"missing: ${want.diff(pairs)}, extra: ${pairs.diff(want)}")
  }

  test("incremental embedding near-dup == batch on delta-touching pairs (r6)") {
    // the d9 shape at unit scale: corpus buckets stored (materialized),
    // delta = exact + perturbed copies; incremental output must equal
    // the batch operator over the union, restricted to delta pairs
    val corpus = embAug
    val delta = embAug.filter($"vec_id" % 3 === 0)
      .select(($"vec_id" + 500000).as("vec_id"), $"embedding")
    val corpusBuckets = Dedup.embeddingBuckets(corpus, "embedding", "vec_id",
      nBits = 4, nTables = 16).localCheckpoint(true)
    val inc = Dedup.embeddingNearDupIncremental(corpusBuckets, corpus, delta,
      "embedding", "vec_id", threshold = 0.8, nBits = 4, nTables = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val batch = Dedup.embeddingNearDup(corpus.unionByName(delta),
      "embedding", "vec_id", threshold = 0.8, nBits = 4, nTables = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      .filter(p => p._1 >= 500000 || p._2 >= 500000)
    assert(inc.nonEmpty)
    assert(inc == batch, s"missing: ${batch.diff(inc)}, extra: ${inc.diff(batch)}")
  }

  test("IVF kNN returns the exact brute-force top-5 on planted neighbors") {
    val queries = embAug.filter($"vec_id" < 8)
    val cents = Ivf.fit(embAug, "embedding", nList = 32)
    assert(cents.length == 32 && cents.head.length == 64)
    // deterministic: refitting yields the identical quantizer
    val cents2 = Ivf.fit(embAug, "embedding", nList = 32)
    assert(cents.zip(cents2).forall { case (a, b) => a.sameElements(b) })
    val brute = Similarity.bruteForceKnn(embAug, queries, k = 5)
      .select("query_id", "rank", "cand_id").as[(Long, Int, Long)].collect().toSet
    val ivf = Ivf.ivfKnn(embAug, queries, k = 5, cents, nProbe = 10)
      .select("query_id", "rank", "cand_id").as[(Long, Int, Long)].collect().toSet
    assert(ivf == brute)
    // and the candidate set is genuinely partial: nProbe/nList of cells
    val cells = embAug.select(Ivf.cellCol($"embedding", cents).as("cell"))
      .groupBy("cell").count().collect()
    assert(cells.length > 6, "quantizer collapsed - probing would be a full scan")
  }

  test("bulk IVF kNN (shuffled joins) matches the broadcast variant exactly") {
    // ivfKnnBulk must be a pure plan-shape change: same index, same probe
    // and re-rank semantics, bit-identical output — here on a query set
    // 6x the broadcast test's (every planted-family vector).
    val queries = embAug.filter($"vec_id" < 8 || $"vec_id" >= 10000)
    val cents = Ivf.fit(embAug, "embedding", nList = 32)
    val bulk = Ivf.ivfKnnBulk(embAug, queries, k = 5, cents, nProbe = 10)
      .select("query_id", "rank", "cand_id", "score_x1e6")
      .as[(Long, Int, Long, Long)].collect().toSet
    val bcast = Ivf.ivfKnn(embAug, queries, k = 5, cents, nProbe = 10)
      .select("query_id", "rank", "cand_id", "score_x1e6")
      .as[(Long, Int, Long, Long)].collect().toSet
    assert(bulk == bcast)
    assert(bulk.map(_._1).size == 48, "expected all 48 family queries answered")
  }

  test("persisted IVF index: search matches the in-memory path bit-for-bit, bulk included") {
    val dir = java.nio.file.Files.createTempDirectory("ivfidx").toString
    val cents = Ivf.fit(embAug, "embedding", nList = 32)
    val written = IvfIndex.write(embAug, dir, nList = 32)
    assert(written.cents.zip(cents).forall { case (a, b) => a.sameElements(b) },
      "persisted quantizer differs from the deterministic fit")
    val idx = IvfIndex.open(spark, dir)
    assert(idx.nList == 32)
    assert(idx.cents.zip(cents).forall { case (a, b) => a.sameElements(b) },
      "reopened centroids differ from the written ones")

    val queries = embAug.filter($"vec_id" < 8)
    val want = Ivf.ivfKnn(embAug, queries, k = 5, cents, nProbe = 10)
      .select("query_id", "rank", "cand_id", "score_x1e6")
      .as[(Long, Int, Long, Long)].collect().toSet
    val got = IvfIndex.knn(spark, idx, queries, k = 5, nProbe = 10)
      .select("query_id", "rank", "cand_id", "score_x1e6")
      .as[(Long, Int, Long, Long)].collect().toSet
    assert(got == want)
    val bulk = IvfIndex.knnBulk(spark, idx, queries, k = 5, nProbe = 10)
      .select("query_id", "rank", "cand_id", "score_x1e6")
      .as[(Long, Int, Long, Long)].collect().toSet
    assert(bulk == want)
  }

  test("persisted IVF index: micro-batch append == from-scratch assignment of the union") {
    val dir = java.nio.file.Files.createTempDirectory("ivfidx_app").toString
    val base = embAug.filter($"vec_id" % 3 =!= 0)
    val idx = IvfIndex.write(base, dir, nList = 32)
    // three micro-batch appends under the frozen quantizer — the
    // foreachBatch streaming-ingest shape
    Seq(0, 3, 6).foreach { r =>
      IvfIndex.append(idx, embAug.filter($"vec_id" % 9 === r))
    }
    val queries = embAug.filter($"vec_id" < 8)
    // ground truth: the in-memory path over the FULL union with the
    // SAME (base-fitted) centroids — append must be invisible to search
    val want = Ivf.ivfKnn(embAug, queries, k = 5, idx.cents, nProbe = 10)
      .select("query_id", "rank", "cand_id", "score_x1e6")
      .as[(Long, Int, Long, Long)].collect().toSet
    val got = IvfIndex.knn(spark, IvfIndex.open(spark, dir), queries,
        k = 5, nProbe = 10)
      .select("query_id", "rank", "cand_id", "score_x1e6")
      .as[(Long, Int, Long, Long)].collect().toSet
    assert(got == want)
    assert(got.map(_._1).size == 8)
  }

  test("persisted IVF index: probes read ONLY probed partitions (pruned scan, by metric)") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
      case q: QueryStageExec        => q +: allNodes(q.plan)
      case other                    => other +: other.children.flatMap(allNodes)
    }
    val dir = java.nio.file.Files.createTempDirectory("ivfidx_prune").toString
    IvfIndex.write(embAug, dir, nList = 32)
    val idx = IvfIndex.open(spark, dir)
    // one query, three probes: at most 3 of the >6 non-empty cells read
    val one = embAug.filter($"vec_id" === 0)
    val cents = idx.cents
    val want = Ivf.ivfKnn(embAug, one, k = 5, cents, nProbe = 3)
      .select("query_id", "rank", "cand_id", "score_x1e6")
      .as[(Long, Int, Long, Long)].collect().toSet
    val df = IvfIndex.knn(spark, idx, one, k = 5, nProbe = 3)
    val got = df.select("query_id", "rank", "cand_id", "score_x1e6")
      .as[(Long, Int, Long, Long)].collect().toSet
    assert(got == want)

    val cellDirs = new java.io.File(s"$dir/cells").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell=")).length
    assert(cellDirs > 6, s"quantizer collapsed: $cellDirs cell dirs")
    val totalFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$dir/cells"))
      .filter(p => p.toString.endsWith(".parquet")).count()
    val scans = allNodes(df.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("ivfidx_prune")) => f
    }
    // both index reads (candidate formation + vector rehydration) prune
    assert(scans.size >= 2, s"expected 2 index scans, got ${scans.size}")
    scans.foreach { f =>
      assert(f.partitionFilters.nonEmpty,
        s"no partition filter pushed into the index scan:\n$f")
      assert(f.metrics("numFiles").value < totalFiles,
        s"scan read ${f.metrics("numFiles").value} of $totalFiles files — pruning vacuous")
    }
  }

  test("NearestCentroid(s) codegen is cluster-portable: serialization-" +
      "roundtripped expressions evaluate via GENERATED code (executor JVM sim)") {
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val cents = Ivf.fit(embAug, "embedding", nList = 8)
    def roundtrip[T <: AnyRef](t: T): T = {
      // how an expression actually reaches an executor: Java serialization
      // of the (bound) expression tree inside the serialized plan
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos); oos.writeObject(t); oos.close()
      new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bos.toByteArray))
        .readObject().asInstanceOf[T]
    }
    val in = BoundReference(0, ArrayType(FloatType, containsNull = false), nullable = false)
    def cell(t: Array[Array[Float]]) = KernelCall(Kernels.nearestCentroid(t), IndexedSeq(in))
    def probe(t: Array[Array[Float]], nProbe: Int) =
      KernelCall(Kernels.nearestCentroids(t, nProbe), IndexedSeq(in))
    val remote = roundtrip(cell(cents))
    val remoteN = roundtrip(probe(cents, 3))
    val copy = cents.map(_.clone)
    assertSameTable(Seq(cell(cents) -> cell(copy), cell(cents) -> remote,
      probe(copy, 3) -> remoteN))
    assert(!probe(cents, 3).semanticEquals(probe(cents, 4)))
    copy(0)(0) += 1f
    assert(!cell(cents).semanticEquals(cell(copy)))
    // GenerateMutableProjection THROWS if codegen fails (no interpreted
    // fallback) — this is the path that broke with a process-local registry
    val proj = GenerateMutableProjection.generate(Seq(remote, remoteN))
    val vecs = embAug.select("embedding").limit(50).collect()
      .map(_.getSeq[Float](0).toArray)
    vecs.foreach { v =>
      val row = new GenericInternalRow(Array[Any](new GenericArrayData(v)))
      val out = proj(row)
      assert(out.getInt(0) == Ivf.nearestIdx(v, cents))
      assert(out.getArray(1).toIntArray().sameElements(Ivf.nearestIdxs(v, cents, 3)))
    }
  }

  test("PQ: compressed ADC top-k == brute force; deterministic; codegen-portable") {
    val queries = embAug.filter($"vec_id" < 8)
    val books = Pq.fit(embAug, "embedding", m = 8, k = 16)
    // deterministic codebooks: same fit twice is bit-identical
    val books2 = Pq.fit(embAug, "embedding", m = 8, k = 16)
    assert(books.flatten.flatten.toSeq == books2.flatten.flatten.toSeq)

    val pq = Pq.adcKnn(embAug, queries, k = 5, books, topC = 128)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val brute = Similarity.bruteForceKnn(embAug, queries, k = 5)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(pq == brute, "PQ+re-rank diverged from exact brute force")
    // stable under repartitioning
    val again = Pq.adcKnn(embAug.repartition(9), queries, k = 5, books,
      topC = 128).orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(again == pq)

    // hand math: encode/lut/adc agree — ADC(v, v) is the quantization
    // distortion, which must be the MINIMUM over all corpus codes for
    // most vectors (sanity of the table construction)
    val v = embAug.orderBy("vec_id").limit(1).select("embedding")
      .collect().head.getSeq[Float](0).toArray
    val codes = Pq.encode(v, books)
    assert(codes.length == 8 && codes.forall(c => c >= 0 && c < 16))
    val lut = Pq.lut(v, books)
    assert(lut.length == 8 * 16)
    val self = Pq.adc(codes, lut)
    val manual = (0 until 8).map(b => lut(b * 16 + codes(b))).sum
    assert(math.abs(self - manual) < 1e-6)

    // cluster portability: the codebooks ride a serialization roundtrip
    // and still evaluate via GENERATED code
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    def roundtrip[T <: AnyRef](t: T): T = {
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos); oos.writeObject(t); oos.close()
      new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bos.toByteArray))
        .readObject().asInstanceOf[T]
    }
    val in = BoundReference(0, ArrayType(FloatType, containsNull = false), nullable = false)
    def enc(b: Array[Array[Array[Float]]]) = KernelCall(Kernels.pqEncode(b), IndexedSeq(in))
    def lutOf(b: Array[Array[Array[Float]]]) = KernelCall(Kernels.pqLut(b), IndexedSeq(in))
    val remote = roundtrip(enc(books))
    assertSameTable(Seq(enc(books) -> enc(books2), lutOf(books) -> lutOf(books2),
      enc(books2) -> remote))
    assert(!enc(books).semanticEquals(lutOf(books)))
    val proj = GenerateMutableProjection.generate(Seq(remote))
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](new GenericArrayData(v.map(x => x: Any))))
    val out = proj(row).getArray(0).toIntArray()
    assert(out.toSeq == codes.toSeq)
  }

  test("IVF-PQ: composed coarse+compressed path == brute force, deterministic") {
    val queries = embAug.filter($"vec_id" < 8)
    val cents = Ivf.fit(embAug, "embedding", nList = 32)
    val books = Pq.fit(embAug, "embedding", m = 8, k = 16)
    val ivfpq = Pq.ivfPqKnn(embAug, queries, k = 5, cents, books,
      nProbe = 10, topC = 128)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val brute = Similarity.bruteForceKnn(embAug, queries, k = 5)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(ivfpq == brute, "IVF-PQ diverged from exact brute force")
    val again = Pq.ivfPqKnn(embAug.repartition(7), queries, k = 5, cents,
      books, nProbe = 10, topC = 128)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(again == ivfpq)
  }

  test("PQ with one block trains the IVF quantizer: one shared k-means") {
    val books = Pq.fit(embAug, "embedding", m = 1, k = 16)
    val cents = Ivf.fit(embAug, "embedding", nList = 16)
    assert(books.length == 1 && books(0).length == cents.length)
    assert(books(0).zip(cents).forall { case (a, b) => a.sameElements(b) })
  }

  test("ANN operators reject k < 1, nProbe < 1 and topC < k") {
    val queries = embAug.filter($"vec_id" < 8)
    val dir = java.nio.file.Files.createTempDirectory("ivfidx_args").toString
    val idx = IvfIndex.write(embAug, dir, nList = 8)
    val books = Pq.fit(embAug, "embedding", m = 8, k = 16)
    val bad: Seq[(String, () => Any)] = Seq(
      "brute k=0" -> (() => Similarity.bruteForceKnn(embAug, queries, k = 0)),
      "lsh k=0" -> (() => Similarity.lshKnnTables(embAug, queries, k = 0)),
      "ivf k=0" -> (() => Ivf.ivfKnn(embAug, queries, k = 0, idx.cents, nProbe = 2)),
      "ivf nProbe=0" -> (() => Ivf.ivfKnn(embAug, queries, k = 5, idx.cents, nProbe = 0)),
      "ivf bulk k=0" -> (() => Ivf.ivfKnnBulk(embAug, queries, k = 0, idx.cents, nProbe = 2)),
      "ivf bulk nProbe=-1" ->
        (() => Ivf.ivfKnnBulk(embAug, queries, k = 5, idx.cents, nProbe = -1)),
      "index k=0" -> (() => IvfIndex.knn(spark, idx, queries, k = 0, nProbe = 2)),
      "index nProbe=0" -> (() => IvfIndex.knn(spark, idx, queries, k = 5, nProbe = 0)),
      "index bulk k=0" -> (() => IvfIndex.knnBulk(spark, idx, queries, k = 0, nProbe = 2)),
      "index bulk nProbe=0" ->
        (() => IvfIndex.knnBulk(spark, idx, queries, k = 5, nProbe = 0)),
      "pq k=0" -> (() => Pq.adcKnn(embAug, queries, k = 0, books)),
      "pq topC<k" -> (() => Pq.adcKnn(embAug, queries, k = 5, books, topC = 3)),
      "ivfpq k=0" ->
        (() => Pq.ivfPqKnn(embAug, queries, k = 0, idx.cents, books, nProbe = 2)),
      "ivfpq nProbe=0" ->
        (() => Pq.ivfPqKnn(embAug, queries, k = 5, idx.cents, books, nProbe = 0)),
      "ivfpq topC<k" -> (() =>
        Pq.ivfPqKnn(embAug, queries, k = 5, idx.cents, books, nProbe = 2, topC = 3)))
    bad.foreach { case (name, run) =>
      withClue(name) { intercept[IllegalArgumentException](run()) }
    }
  }
}
