package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** Embedding similarity kernels (declared in [[Kernels]]).
  *
  * Two variants:
  *  - `cosine_sim` — plain float32 cosine with double accumulation: the
  *    fast hot-path kernel.
  *  - `qcosine_sim` — INT-QUANTIZED cosine: every component is floored to
  *    int64 at 1e4 scale, dot/norms accumulate as exact integers (addition
  *    order-free), then one double division. Bit-identical across engines
  *    and parallelism levels — the oracle-able variant (and the standard
  *    quantization trick real ANN systems use at scale).
  */
object VectorOps {

  val QScale = 10000.0

  def quantize(v: Double): Long = math.floor(v * QScale).toLong

  def qcosine(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    require(b.numElements() == n, s"dim mismatch: $n vs ${b.numElements()}")
    var dot = 0L; var na = 0L; var nb = 0L
    var i = 0
    while (i < n) {
      val x = quantize(a.getFloat(i).toDouble)
      val y = quantize(b.getFloat(i).toDouble)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0L || nb == 0L) 0.0
    else dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
  }

  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    require(b.numElements() == n, s"dim mismatch: $n vs ${b.numElements()}")
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Random-hyperplane LSH bucket (SimHash for vectors): `nBits` seeded
    * hyperplanes; sign pattern packed into an int. Deterministic (seeded
    * by graft.audio.AudioSynth.mix64). */
  def hyperplaneBucket(v: ArrayData, nBits: Int): Int = {
    require(nBits >= 1 && nBits <= 31, s"nBits must be in [1, 31], got $nBits")
    val dim = v.numElements()
    var bucket = 0
    var b = 0
    while (b < nBits) {
      var acc = 0.0
      var i = 0
      while (i < dim) {
        // deterministic pseudo-gaussian-ish weight in [-1, 1)
        val h = graft.audio.AudioSynth.mix64(b.toLong * 1000003L + i)
        val w = (h >> 11).toDouble / (1L << 52).toDouble // [-1, 1)
        acc += w * v.getFloat(i)
        i += 1
      }
      if (acc >= 0) bucket |= (1 << b)
      b += 1
    }
    bucket
  }

  /** Multi-table hyperplane LSH: `nTables` independent tables of `nBits`
    * hyperplanes each (the standard amplification trick — OR across tables
    * boosts recall, AND within a table keeps per-table buckets selective).
    * Table t's hyperplanes are seeded disjointly from table 0's; table 0
    * equals `hyperplaneBucket`. Returns one packed bucket code per table. */
  def hyperplaneBuckets(v: ArrayData, nBits: Int, nTables: Int): Array[Int] = {
    // out-of-range parameters yield degenerate buckets (nBits > 31
    // overflows the Int mask; nTables <= 0 returns no buckets; the
    // disjoint-seed scheme spaces tables 64 bits apart) — fail loudly
    require(nBits >= 1 && nBits <= 31, s"nBits must be in [1, 31], got $nBits")
    require(nTables >= 1 && nTables <= 1024, s"nTables must be in [1, 1024], got $nTables")
    val dim = v.numElements()
    val out = new Array[Int](nTables)
    var t = 0
    while (t < nTables) {
      var bucket = 0
      var b = 0
      while (b < nBits) {
        var acc = 0.0
        var i = 0
        while (i < dim) {
          val h = graft.audio.AudioSynth.mix64((t.toLong * 64 + b) * 1000003L + i)
          val w = (h >> 11).toDouble / (1L << 52).toDouble
          acc += w * v.getFloat(i)
          i += 1
        }
        if (acc >= 0) bucket |= (1 << b)
        b += 1
      }
      out(t) = bucket
      t += 1
    }
    out
  }
}

/** Combination-chunk candidate keys for wide-radius hash near-dup (the
  * maxHamming >= 5 scheme of Dedup.hashKeys): the 64-bit signature is
  * split into c = maxHamming+4 chunks and every 4-subset of chunk values
  * is packed into one long key (16-bit lanes, lexicographic subset
  * order). Key VALUES are identical to the former expression-tree form
  * (same chunk offsets/widths, same `((v0<<16|v1)<<16|v2)<<16|v3`
  * packing, same `(0 until c).combinations(4)` enumeration order) — this
  * expression exists because the tree form was C(c,4) array elements of
  * ~20 sub-expressions each (h=8: 495 keys, ~10k expression nodes): the
  * optimizer walked it on every plan, and the generated projection code
  * blew far past JIT-friendly method sizes. One static call computing the
  * keys in a tight loop keeps the scan inside small, JIT-compiled
  * whole-stage codegen. */
object HashCombKeysKernel {
  /** Per-radius scheme cache: (chunk offsets, chunk masks, 4-subsets). */
  private final class Scheme(val offs: Array[Int], val masks: Array[Long],
                             val combos: Array[Array[Int]])
  private val schemes = new java.util.concurrent.atomic.AtomicReferenceArray[Scheme](32)

  private def scheme(maxHamming: Int): Scheme = {
    val cached = schemes.get(maxHamming)
    if (cached != null) return cached
    val c = maxHamming + 4
    val base = 64 / c
    val rem = 64 % c
    val offs = new Array[Int](c)
    val masks = new Array[Long](c)
    var o = 0
    var i = 0
    while (i < c) {
      val width = base + (if (i < rem) 1 else 0)
      offs(i) = o
      masks(i) = (1L << width) - 1
      o += width
      i += 1
    }
    val combos = (0 until c).combinations(4).map(_.toArray).toArray
    val s = new Scheme(offs, masks, combos)
    schemes.set(maxHamming, s) // racing builders publish equal schemes
    s
  }

  def keys(sig: Long, maxHamming: Int): Array[Long] = {
    val s = scheme(maxHamming)
    val cv = new Array[Long](s.offs.length)
    var i = 0
    while (i < cv.length) {
      cv(i) = (sig >>> s.offs(i)) & s.masks(i); i += 1
    }
    val out = new Array[Long](s.combos.length)
    i = 0
    while (i < out.length) {
      val idx = s.combos(i)
      out(i) = ((((((cv(idx(0)) << 16) | cv(idx(1))) << 16) |
        cv(idx(2))) << 16) | cv(idx(3)))
      i += 1
    }
    out
  }
}
