package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Kernels

/** Product Quantization (Jégou et al., PAMI 2011) — the memory-bound ANN
  * scan of real vector stores (FAISS IVF-PQ): vectors compress to m
  * sub-space code indices (here 8 codes over 64 dims = 8 ints vs 256
  * bytes of floats), and query-to-candidate distance is approximated by
  * m table lookups (ADC — asymmetric distance computation).
  *
  * Scale shape: the corpus scan that feeds the candidate join carries
  * (id, codes) ONLY — the float vectors never ride a shuffle; the
  * query side precomputes its lookup table ONCE per query as a column
  * (`pq_lut`), so the per-pair cost is m additions. Exactness comes from
  * the same re-rank discipline as the LSH/IVF paths: ADC selects topC
  * candidates, the true top-k is scored on rehydrated vectors with the
  * quantized-integer cosine (engine-exact). Codebooks are deterministic
  * (strided-init Lloyd on the lowest-id sample, like Ivf.fit) and ride
  * the serialized plan as a kernel table constant — cluster-portable. */
object Pq {

  /** Per-subspace codebooks: books(b)(code) = centroid of sub-vector
    * block b. Deterministic: [[Ivf.fit]]'s sample and k-means, run
    * independently per block. */
  def fit(df: DataFrame, vecCol: String, m: Int = 8, k: Int = 16,
          iters: Int = 10, sampleN: Int = 10000,
          idCol: String = "vec_id"): Array[Array[Array[Float]]] = {
    val sample = Ivf.trainingSample(df, vecCol, sampleN, idCol)
    require(sample.nonEmpty, "empty sample")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    require(sample.length >= k, s"sample ${sample.length} < k $k")
    val sub = dim / m
    Array.tabulate(m)(b => Ivf.lloyd(
      sample.map(v => java.util.Arrays.copyOfRange(v, b * sub, (b + 1) * sub)), k, iters))
  }

  /** Encode a vector: per block, index of the L2-nearest codebook entry. */
  def encode(v: Array[Float], books: Array[Array[Array[Float]]]): Array[Int] = {
    val m = books.length
    val sub = v.length / m
    Array.tabulate(m)(b =>
      Ivf.nearestIdx(java.util.Arrays.copyOfRange(v, b * sub, (b + 1) * sub), books(b)))
  }

  /** Query lookup table, flattened: lut(b*k + c) = squared L2 distance of
    * the query's block-b sub-vector to codebook entry c. */
  def lut(q: Array[Float], books: Array[Array[Array[Float]]]): Array[Float] = {
    val m = books.length
    val k = books(0).length
    val sub = q.length / m
    val out = new Array[Float](m * k)
    var b = 0
    while (b < m) {
      var c = 0
      while (c < k) {
        var d2 = 0.0
        var d = 0
        while (d < sub) {
          val diff = q(b * sub + d) - books(b)(c)(d)
          d2 += diff * diff
          d += 1
        }
        out(b * k + c) = d2.toFloat
        c += 1
      }
      b += 1
    }
    out
  }

  /** ADC distance: sum of per-block LUT entries for the candidate codes. */
  def adc(codes: Array[Int], lutArr: Array[Float]): Float = {
    val m = codes.length
    val k = lutArr.length / m
    var s = 0.0f
    var b = 0
    while (b < m) { s += lutArr(b * k + codes(b)); b += 1 }
    s
  }

  /** Kernel targets of `pq_encode`, `pq_lut` and `pq_adc` (see
    * [[Kernels.pqEncode]]). */
  def encodeOf(v: ArrayData, books: Array[Array[Array[Float]]]): Array[Int] =
    encode(v.toFloatArray(), books)
  def lutOf(v: ArrayData, books: Array[Array[Array[Float]]]): Array[Float] =
    lut(v.toFloatArray(), books)
  def adcOf(codes: ArrayData, lutArr: ArrayData): Float =
    adc(codes.toIntArray(), lutArr.toFloatArray())

  def encodeCol(v: Column, books: Array[Array[Array[Float]]]): Column = Kernels.pqEncode(books)(v)
  def lutCol(v: Column, books: Array[Array[Array[Float]]]): Column = Kernels.pqLut(books)(v)
  def adcCol(codes: Column, lutC: Column): Column = Kernels.PqAdc(codes, lutC)

  /** ADC top-C candidate stage of [[adcKnn]] and [[ivfPqKnn]]: of each
    * query's non-self (codes, lut) pairs, the `topC` (query_id, cand_id)
    * with the smallest ADC distance (ties on cand_id). */
  private def adcTopC(pairs: DataFrame, k: Int, topC: Int): DataFrame = {
    require(topC >= k, s"topC $topC < k $k")
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc"), col("cand_id"))
    pairs.filter(Similarity.notSelf)
      .withColumn("adc", adcCol(col("codes"), col("lut")))
      .withColumn("_crank", row_number().over(wAdc))
      .filter(col("_crank") <= topC)
      .select(col("query_id"), col("cand_id"))
  }

  /** IVF-PQ — the FAISS IVFPQ composition: the coarse quantizer restricts
    * the search to `nProbe` cells (the IVF side), PQ-ADC ranks the probed
    * cells' compressed codes, exact quantized-cosine re-rank on the topC
    * survivors. At corpus scale the candidate scan reads nProbe/nList of
    * the rows at m code-bytes per vector instead of the whole corpus at
    * full float width; only (id, cell, codes) ever rides the candidate
    * join. */
  def ivfPqKnn(corpus: DataFrame, queries: DataFrame, k: Int,
               cents: Array[Array[Float]], books: Array[Array[Array[Float]]],
               nProbe: Int, topC: Int = 128,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = Similarity.candVecs(corpus, idCol, vecCol)
    val q = Similarity.queryVecs(queries, idCol, vecCol)
    val codesCells = c.select(col("cand_id"),
      Ivf.cellCol(col("cv"), cents).as("cell"),
      encodeCol(col("cv"), books).as("codes"))
    val qProbe = Ivf.probes(q, cents, nProbe, lutCol(col("qv"), books).as("lut"))
    Similarity.scoreTopK(
      adcTopC(codesCells.join(broadcast(qProbe), Seq("cell")), k, topC), q, c, k)
  }

  /** PQ-ADC ANN: candidates = topC per query by ADC over the compressed
    * codes (the memory-bound scan — floats never join it), exact
    * quantized-cosine re-rank on rehydrated vectors (same scoreTopK tail
    * as the LSH/IVF family, so results are engine-exact when topC covers
    * the true top-k). */
  def adcKnn(corpus: DataFrame, queries: DataFrame, k: Int,
             books: Array[Array[Array[Float]]], topC: Int = 128,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = Similarity.candVecs(corpus, idCol, vecCol)
    val q = Similarity.queryVecs(queries, idCol, vecCol)
    val codes = c.select(col("cand_id"), encodeCol(col("cv"), books).as("codes"))
    val luts = q.select(col("query_id"), lutCol(col("qv"), books).as("lut"))
    Similarity.scoreTopK(adcTopC(codes.crossJoin(broadcast(luts)), k, topC), q, c, k)
  }
}
