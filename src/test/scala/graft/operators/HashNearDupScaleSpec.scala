package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The r6 scale gate for [[Dedup.hashNearDup]]'s candidate generation
  * (VERDICT r5 "What's wrong" #1): at maxHamming=8 the old single-chunk
  * pigeonhole had 9 chunks of <= 8 bits — ~2,300 buckets total AND a
  * degenerate width-ZERO 9th chunk whose bucket held the entire corpus,
  * so organic candidate volume was literally n²/2. The combination-chunk
  * scheme (c = maxHamming+4 chunks, keys on every 4-subset) must keep
  * recall pigeonhole-complete while cutting organic candidate volume to
  * ~linear in n at realistic occupancies. This spec pins BOTH halves:
  * recall on planted exact-radius pairs (via Spark), and the occupancy /
  * volume arithmetic (via an independent plain-Scala re-derivation of the
  * bucketing, no Spark — 20k uniform signatures).
  */
class HashNearDupScaleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def rng(seed: Long) = new scala.util.Random(seed)

  /** Flip exactly `k` distinct random bits. */
  private def flip(sig: Long, k: Int, r: scala.util.Random): Long = {
    val bits = r.shuffle((0 until 64).toList).take(k)
    bits.foldLeft(sig)((s, b) => s ^ (1L << b))
  }

  test("recall: planted pairs at exactly maxHamming recovered for h in {5, 8}") {
    import spark.implicits._
    for (h <- Seq(5, 8)) {
      val r = rng(0xD00D + h)
      val base = (0 until 400).map(i => (s"o-$i", r.nextLong()))
      val twins = base.take(120).map { case (id, s) => (id + "-t", flip(s, h, r)) }
      val got = Dedup.hashNearDup((base ++ twins).toDF("id", "sig"), maxHamming = h)
        .select("id_a", "id_b").as[(String, String)].collect().toSet
      val want = base.take(120).map { case (id, _) => (id, id + "-t") }.toSet
      assert(want.subsetOf(got), s"h=$h missing: ${want.diff(got).take(3)}")
      // extras can only be organic pairs genuinely within h — none at
      // this corpus size with this seed
      assert(got == want, s"h=$h extras: ${got.diff(want).take(3)}")
    }
  }

  test("salted cell pairing returns the identical pair set on the combo scheme") {
    import spark.implicits._
    val r = rng(0xCE11)
    // a hot corpus: many identical signatures funnel one bucket
    val rows = (0 until 300).map(i => (s"h-$i", 0x5A5A5A5A5A5A5A5AL)) ++
      (0 until 200).map(i => (s"o-$i", r.nextLong()))
    val df = rows.toDF("id", "sig")
    val plain = Dedup.hashNearDup(df, maxHamming = 8)
      .select("id_a", "id_b").as[(String, String)].collect().toSet
    val salted = Dedup.hashNearDup(df, maxHamming = 8, salts = 4)
      .select("id_a", "id_b").as[(String, String)].collect().toSet
    assert(plain == salted)
    assert(plain.size == 300 * 299 / 2) // the identical-sig clique
  }

  test("incremental == batch on delta-touching pairs; corpus keys never recomputed") {
    import spark.implicits._
    for (h <- Seq(3, 8)) {
      val r = rng(0x1AC + h)
      val corpus = (0 until 300).map(i => (s"c-$i", r.nextLong()))
      // delta: twins of corpus rows (within h) plus twin PAIRS internal
      // to the delta itself, plus unrelated organics
      val delta = corpus.take(40).map { case (id, s) => (id + "-t", flip(s, h, r)) } ++
        Seq(("dd-0", 0x0123456789ABCDEFL), ("dd-1", flip(0x0123456789ABCDEFL, h, r))) ++
        (0 until 30).map(i => (s"dn-$i", r.nextLong()))
      val corpusKeys = Dedup.hashKeys(corpus.toDF("id", "sig"), h).localCheckpoint(true)
      val inc = Dedup.hashNearDupIncremental(corpusKeys, delta.toDF("id", "sig"), h)
        .select("id_a", "id_b").as[(String, String)].collect().toSet
      // batch over the union, restricted to pairs touching the delta
      val deltaIds = delta.map(_._1).toSet
      val batch = Dedup.hashNearDup((corpus ++ delta).toDF("id", "sig"), h)
        .select("id_a", "id_b").as[(String, String)].collect().toSet
        .filter(p => deltaIds(p._1) || deltaIds(p._2))
      assert(inc == batch,
        s"h=$h missing=${batch.diff(inc).take(3)} extra=${inc.diff(batch).take(3)}")
      assert(inc.exists(p => p._1 == "dd-0" && p._2 == "dd-1"), s"h=$h delta-internal pair lost")
      assert(corpus.take(40).map { case (id, _) => (id, id + "-t") }.toSet.subsetOf(inc))
    }
  }

  test("occupancy gate: organic candidate volume ~linear in n; >=1000x under the old scheme") {
    // independent re-derivation of both bucketings over 20k uniform
    // 64-bit signatures (fixed seed, no Spark): candidate pairs =
    // sum over buckets of C(occupancy, 2).
    val n = 20000
    val r = rng(0xBEEF)
    val sigs = Array.fill(n)(r.nextLong())
    def pairsFor(keysOf: Long => Seq[(Int, Long)]): Long = {
      val occ = new scala.collection.mutable.HashMap[(Int, Long), Long]()
      sigs.foreach(s => keysOf(s).foreach(k =>
        occ.update(k, occ.getOrElse(k, 0L) + 1L)))
      occ.valuesIterator.map(m => m * (m - 1) / 2).sum
    }
    // OLD single-chunk scheme at h=8: 9 chunks of width ceil(64/9)=8,
    // the 9th has width min(8, 64-64) = 0 -> mask 0 (the degenerate
    // all-rows bucket)
    val old = pairsFor { s =>
      (0 until 9).map { i =>
        val width = math.min(8, 64 - i * 8)
        val mask = if (width <= 0) 0L else (1L << width) - 1
        (i, (s >>> (i * 8)) & mask)
      }
    }
    // NEW combination scheme at h=8: c=12 chunks (4x6 + 8x5 bits), keys
    // on all C(12,4)=495 4-subsets, values packed into 16-bit lanes
    val c = 12; val base = 64 / c; val rem = 64 % c
    val offs = (0 until c).scanLeft(0)((o, i) => o + base + (if (i < rem) 1 else 0))
    def chunk(s: Long, i: Int): Long = {
      val width = base + (if (i < rem) 1 else 0)
      (s >>> offs(i)) & ((1L << width) - 1)
    }
    val combos = (0 until c).combinations(4).toArray.map(_.toArray)
    val neu = pairsFor { s =>
      combos.toIndexedSeq.zipWithIndex.map { case (idx, j) =>
        (j, idx.map(chunk(s, _)).reduceLeft((acc, v) => (acc << 16) | v))
      }
    }
    assert(old >= n.toLong * (n - 1) / 2,
      s"old-scheme baseline lost its degenerate bucket: $old") // ~n^2/2
    assert(neu <= 10L * n, s"combo candidate volume super-linear: $neu for n=$n")
    assert(old >= 1000L * math.max(neu, 1L), s"reduction too small: $old vs $neu")
  }
}
