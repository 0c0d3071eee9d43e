package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._

import graft.functions.Kernels

/** IVF (inverted-file) ANN — the k-means coarse-quantizer scale path that
  * real vector stores (FAISS IVF-Flat) use, beside the hyperplane-LSH
  * variant:
  *
  *  1. `fit`: deterministic Lloyd k-means on a BOUNDED sample (driver-side
  *     by design — coarse-quantizer training is O(sample · nList · iters),
  *     independent of corpus size; the 10^12-row corpus never moves).
  *  2. assignment: the `nearest_centroid` kernel declared over the (tiny)
  *     centroid matrix (`Kernels.nearestCentroid`; the matrix rides the
  *     serialized plan as a table constant) — one codegen'd scan pass, no
  *     shuffle, no UDF boxing.
  *  3. `ivfKnn`: queries probe their `nProbe` nearest cells; only same-cell
  *     candidates are scored (exact quantized cosine), top-k per query.
  *     Expected scored fraction ~ nProbe/nList of the corpus.
  *
  * Everything is deterministic (seedless sample-stride init + fixed
  * iteration count), so results are reproducible run-to-run and the
  * fixture-scale query is oracle-able against exact brute force.
  */
object Ivf {

  /** Deterministic k-means coarse quantizer of `df`: [[lloyd]] over the
    * [[trainingSample]], `nList` cells. */
  def fit(df: DataFrame, vecCol: String, nList: Int,
          iters: Int = 10, sampleN: Int = 10000,
          idCol: String = "vec_id"): Array[Array[Float]] = {
    val sample = trainingSample(df, vecCol, sampleN, idCol)
    require(sample.length >= nList, s"sample ${sample.length} < nList $nList")
    lloyd(sample, nList, iters)
  }

  /** The bounded training sample of both quantizers (this one and
    * [[Pq.fit]]): the `sampleN` lowest ids — orderBy+limit plans as
    * TakeOrderedAndProject (per-partition top-N heap + driver merge, no
    * full sort shuffle). A bare limit() would take whichever partitions
    * answer first, making the centroids (and every downstream cell
    * assignment) run-order dependent. */
  private[operators] def trainingSample(df: DataFrame, vecCol: String, sampleN: Int,
                                        idCol: String): Array[Array[Float]] =
    df.orderBy(col(idCol)).limit(sampleN).select(vecCol)
      .collect().map(_.getSeq[Float](0).toArray)

  /** Deterministic Lloyd k-means: init = evenly-strided points (no RNG);
    * `iters` fixed; empty cells keep their previous centroid. */
  private[operators] def lloyd(points: Array[Array[Float]], k: Int,
                               iters: Int): Array[Array[Float]] = {
    val dim = points.head.length
    val cents = Array.tabulate(k)(i =>
      points((i.toLong * points.length / k).toInt).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      var s = 0
      while (s < points.length) {
        val v = points(s)
        val c = nearestIdx(v, cents)
        var d = 0
        while (d < dim) { sums(c)(d) += v(d); d += 1 }
        counts(c) += 1
        s += 1
      }
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          val nc = new Array[Float](dim)
          var d = 0
          while (d < dim) { nc(d) = (sums(c)(d) / counts(c)).toFloat; d += 1 }
          cents(c) = nc
        }
        c += 1
      }
      it += 1
    }
    cents
  }

  /** Index of the L2-nearest centroid (ties -> lowest index). */
  def nearestIdx(v: Array[Float], cents: Array[Array[Float]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      var d2 = 0.0
      val cent = cents(c)
      var d = 0
      while (d < v.length) {
        val diff = v(d) - cent(d)
        d2 += diff * diff
        d += 1
      }
      if (d2 < bestD) { bestD = d2; best = c }
      c += 1
    }
    best
  }

  /** Indices of the `nProbe` nearest centroids, ascending by distance
    * (ties -> lowest index). */
  def nearestIdxs(v: Array[Float], cents: Array[Array[Float]], nProbe: Int): Array[Int] = {
    val d2s = cents.indices.map { c =>
      var d2 = 0.0
      var d = 0
      while (d < v.length) { val diff = v(d) - cents(c)(d); d2 += diff * diff; d += 1 }
      (d2, c)
    }
    d2s.sorted.take(nProbe).map(_._2).toArray
  }

  /** Kernel targets of `nearest_centroid(s)` (see [[Kernels.nearestCentroid]]). */
  def cellOf(v: ArrayData, cents: Array[Array[Float]]): Int = nearestIdx(v.toFloatArray(), cents)
  def probesOf(v: ArrayData, cents: Array[Array[Float]], nProbe: Int): Array[Int] =
    nearestIdxs(v.toFloatArray(), cents, nProbe)

  def cellCol(v: Column, cents: Array[Array[Float]]): Column = Kernels.nearestCentroid(cents)(v)

  def probeCol(v: Column, cents: Array[Array[Float]], nProbe: Int): Column = {
    require(nProbe >= 1, s"nProbe $nProbe < 1")
    Kernels.nearestCentroids(cents, nProbe)(v)
  }

  /** (query_id, cell) per probed cell of each (query_id, qv) row, plus
    * `extra` columns of the query row. */
  private[operators] def probes(q: DataFrame, cents: Array[Array[Float]], nProbe: Int,
                                extra: Column*): DataFrame =
    q.select(Seq(col("query_id"), explode(probeCol(col("qv"), cents, nProbe)).as("cell")) ++
      extra: _*)

  /** The cell-probe body of [[ivfKnn]], [[ivfKnnBulk]] and [[IvfIndex]]'s
    * searches: the corpus' (cand_id, cell) rows join the queries'
    * (query_id, cell) probe rows on cell, then the [[Similarity.scoreTopK]]
    * re-rank. `broadcastQueries` hints both the probe rows and the query
    * vectors (bounded query sets) or neither (bulk). No distinct needed: each
    * candidate has exactly ONE cell and a query's probed cells are
    * distinct, so a (query, cand) pair can only arise once. */
  private[operators] def probeKnn(cells: DataFrame, probeRows: DataFrame, q: DataFrame,
                                  c: DataFrame, k: Int, broadcastQueries: Boolean): DataFrame =
    Similarity.scoreTopK(Similarity.candPairs(cells.join(
      if (broadcastQueries) broadcast(probeRows) else probeRows, Seq("cell"))),
      q, c, k, broadcastQueries)

  /** IVF-Flat ANN: corpus assigned to its cell (one scan), queries probe
    * `nProbe` cells, exact quantized-cosine re-rank inside the probed
    * cells. Only (id, cell) rides the candidate join — vectors rehydrate
    * by id after the candidate set is formed (same discipline as the LSH
    * paths). */
  def ivfKnn(corpus: DataFrame, queries: DataFrame, k: Int,
             cents: Array[Array[Float]], nProbe: Int,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = Similarity.candVecs(corpus, idCol, vecCol)
    val q = Similarity.queryVecs(queries, idCol, vecCol)
    probeKnn(c.select(col("cand_id"), cellCol(col("cv"), cents).as("cell")),
      probes(q, cents, nProbe), q, c, k, broadcastQueries = true)
  }

  /** Bulk-query IVF-Flat: identical index/probe/re-rank semantics to
    * [[ivfKnn]], but nothing is broadcast — the probe-exploded query set
    * rides a SHUFFLED cell join and vectors rehydrate through shuffled id
    * joins. This is the path when the query set is itself corpus-sized
    * (corpus-vs-corpus retrieval, bulk embedding joins): broadcasting
    * nProbe× an unbounded query set would OOM every executor. Skew note:
    * a hot cell (over-dense region) concentrates its pairs in one task —
    * pre-salt the cell key or raise nList if a
    * corpus is known to be lopsided; AQE skew-join handles moderate skew. */
  def ivfKnnBulk(corpus: DataFrame, queries: DataFrame, k: Int,
                 cents: Array[Array[Float]], nProbe: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = Similarity.candVecs(corpus, idCol, vecCol)
    val q = Similarity.queryVecs(queries, idCol, vecCol)
    probeKnn(c.select(col("cand_id"), cellCol(col("cv"), cents).as("cell")),
      probes(q, cents, nProbe), q, c, k, broadcastQueries = false)
  }
}
