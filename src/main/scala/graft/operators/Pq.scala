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
    * block b. Deterministic: same sample/init/iteration discipline as
    * [[Ivf.fit]], run independently per block. */
  def fit(df: DataFrame, vecCol: String, m: Int = 8, k: Int = 16,
          iters: Int = 10, sampleN: Int = 10000,
          idCol: String = "vec_id"): Array[Array[Array[Float]]] = {
    val sample: Array[Array[Float]] = df
      .orderBy(col(idCol)).limit(sampleN).select(vecCol)
      .collect().map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "empty sample")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    require(sample.length >= k, s"sample ${sample.length} < k $k")
    val sub = dim / m
    Array.tabulate(m) { b =>
      val block = sample.map(v => java.util.Arrays.copyOfRange(v, b * sub, (b + 1) * sub))
      var cents = Array.tabulate(k)(i =>
        block((i.toLong * block.length / k).toInt).clone())
      var it = 0
      while (it < iters) {
        val sums = Array.fill(k)(new Array[Double](sub))
        val counts = new Array[Int](k)
        var s = 0
        while (s < block.length) {
          val c = Ivf.nearestIdx(block(s), cents)
          var d = 0
          while (d < sub) { sums(c)(d) += block(s)(d); d += 1 }
          counts(c) += 1
          s += 1
        }
        var c = 0
        while (c < k) {
          if (counts(c) > 0) {
            val nc = new Array[Float](sub)
            var d = 0
            while (d < sub) { nc(d) = (sums(c)(d) / counts(c)).toFloat; d += 1 }
            cents(c) = nc
          }
          c += 1
        }
        it += 1
      }
      cents
    }
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

  /** PQ-ADC ANN: candidates = topC per query by ADC over the compressed
    * codes (the memory-bound scan — floats never join it), exact
    * quantized-cosine re-rank on rehydrated vectors (same scoreTopK tail
    * as the LSH/IVF family, so results are engine-exact when topC covers
    * the true top-k). */
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
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val codesCells = c.select(col("cand_id"),
      Ivf.cellCol(col("cv"), cents).as("cell"),
      encodeCol(col("cv"), books).as("codes"))
    val qProbe = q.select(col("query_id"),
      explode(Ivf.probeCol(col("qv"), cents, nProbe)).as("cell"),
      lutCol(col("qv"), books).as("lut"))
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc"), col("cand_id"))
    val cands = codesCells.join(broadcast(qProbe), Seq("cell"))
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("adc", adcCol(col("codes"), col("lut")))
      .withColumn("_crank", row_number().over(wAdc))
      .filter(col("_crank") <= topC)
      .select(col("query_id"), col("cand_id"))
    Similarity.scoreTopK(cands, q, c, k)
  }

  def adcKnn(corpus: DataFrame, queries: DataFrame, k: Int,
             books: Array[Array[Array[Float]]], topC: Int = 128,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val codes = corpus.select(col(idCol).as("cand_id"),
      encodeCol(col(vecCol), books).as("codes"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val luts = q.select(col("query_id"), lutCol(col("qv"), books).as("lut"))
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc"), col("cand_id"))
    val cands = codes.crossJoin(broadcast(luts))
      .filter(col("cand_id") =!= col("query_id")) // family convention
      .withColumn("adc", adcCol(col("codes"), col("lut")))
      .withColumn("_crank", row_number().over(wAdc))
      .filter(col("_crank") <= topC)
      .select(col("query_id"), col("cand_id"))
    Similarity.scoreTopK(cands, q,
      corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv")), k)
  }
}
