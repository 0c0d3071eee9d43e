package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}

import graft.functions.GraftFunctions
import graft.functions.GraftFunctions._

/** IVF (inverted-file) ANN — the k-means coarse-quantizer scale path that
  * real vector stores (FAISS IVF-Flat) use, beside the hyperplane-LSH
  * variant:
  *
  *  1. `fit`: deterministic Lloyd k-means on a BOUNDED sample (driver-side
  *     by design — coarse-quantizer training is O(sample · nList · iters),
  *     independent of corpus size; the 10^12-row corpus never moves).
  *  2. assignment: `NearestCentroid`, a native expression holding the
  *     (tiny) centroid matrix — one codegen'd scan pass, no shuffle, no
  *     UDF boxing.
  *  3. `ivfKnn`: queries probe their `nProbe` nearest cells; only same-cell
  *     candidates are scored (exact quantized cosine), top-k per query.
  *     Expected scored fraction ~ nProbe/nList of the corpus.
  *
  * Everything is deterministic (seedless sample-stride init + fixed
  * iteration count), so results are reproducible run-to-run and the
  * fixture-scale query is oracle-able against exact brute force.
  */
object Ivf {

  /** Deterministic Lloyd k-means over a bounded sample of `df`.
    * Init = evenly-strided sample rows (no RNG); `iters` fixed. Empty
    * cells keep their previous centroid. The sample is the `sampleN`
    * lowest ids — orderBy+limit plans as TakeOrderedAndProject (per-
    * partition top-N heap + driver merge, no full sort shuffle). A bare
    * limit() would take whichever partitions answer first, making the
    * centroids (and every downstream cell assignment) run-order dependent. */
  def fit(df: DataFrame, vecCol: String, nList: Int,
          iters: Int = 10, sampleN: Int = 10000,
          idCol: String = "vec_id"): Array[Array[Float]] = {
    val sample: Array[Array[Float]] = df
      .orderBy(col(idCol)).limit(sampleN).select(vecCol)
      .collect().map(_.getSeq[Float](0).toArray)
    require(sample.length >= nList, s"sample ${sample.length} < nList $nList")
    val dim = sample.head.length
    var cents = Array.tabulate(nList)(i =>
      sample((i.toLong * sample.length / nList).toInt).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(nList)(new Array[Double](dim))
      val counts = new Array[Int](nList)
      var s = 0
      while (s < sample.length) {
        val v = sample(s)
        val c = nearestIdx(v, cents)
        var d = 0
        while (d < dim) { sums(c)(d) += v(d); d += 1 }
        counts(c) += 1
        s += 1
      }
      var c = 0
      while (c < nList) {
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

  private def vecOf(a: ArrayData): Array[Float] = a.toFloatArray()

  def cellCol(v: org.apache.spark.sql.Column, cents: Array[Array[Float]]): org.apache.spark.sql.Column =
    GraftFunctions.toColumn(NearestCentroid(GraftFunctions.toExpr(v), cents))

  def probeCol(v: org.apache.spark.sql.Column, cents: Array[Array[Float]],
               nProbe: Int): org.apache.spark.sql.Column =
    GraftFunctions.toColumn(NearestCentroids(GraftFunctions.toExpr(v), cents, nProbe))

  /** IVF-Flat ANN: corpus assigned to its cell (one scan), queries probe
    * `nProbe` cells, exact quantized-cosine re-rank inside the probed
    * cells. Only (id, cell) rides the candidate join — vectors rehydrate
    * by id after the candidate set is formed (same discipline as the LSH
    * paths). */
  def ivfKnn(corpus: DataFrame, queries: DataFrame, k: Int,
             cents: Array[Array[Float]], nProbe: Int,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val cCell = c.select(col("cand_id"), cellCol(col("cv"), cents).as("cell"))
    val qCell = q.select(col("query_id"),
      explode(probeCol(col("qv"), cents, nProbe)).as("cell"))
    // No distinct needed: each candidate has exactly ONE cell and a query's
    // probed cells are distinct, so a (query, cand) pair can only arise
    // once — distinct() here was a wasted extra shuffle.
    val cands = cCell.join(broadcast(qCell), Seq("cell"))
      .filter(col("cand_id") =!= col("query_id"))
      .select("query_id", "cand_id")
    Similarity.scoreTopK(cands, q, c, k)
  }

  /** Bulk-query IVF-Flat: identical index/probe/re-rank semantics to
    * [[ivfKnn]], but nothing is broadcast — the probe-exploded query set
    * rides a SHUFFLED cell join and vectors rehydrate through shuffled id
    * joins. This is the path when the query set is itself corpus-sized
    * (corpus-vs-corpus retrieval, bulk embedding joins): broadcasting
    * nProbe× an unbounded query set would OOM every executor. Skew note:
    * a hot cell (over-dense region) concentrates its pairs in one task —
    * pre-salt the cell key (Salting discipline) or raise nList if a
    * corpus is known to be lopsided; AQE skew-join handles moderate skew. */
  def ivfKnnBulk(corpus: DataFrame, queries: DataFrame, k: Int,
                 cents: Array[Array[Float]], nProbe: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val cCell = c.select(col("cand_id"), cellCol(col("cv"), cents).as("cell"))
    val qCell = q.select(col("query_id"),
      explode(probeCol(col("qv"), cents, nProbe)).as("cell"))
    val cands = cCell.join(qCell, Seq("cell"))
      .filter(col("cand_id") =!= col("query_id"))
      .select("query_id", "cand_id")
    Similarity.scoreTopK(cands, q, c, k, broadcastQueries = false)
  }
}

/** An expression whose fields include a constant float table that codegen
  * passes to the generated code with `addReferenceObj`. As a raw array
  * field the table would compare by reference and print as `[[F@` plus
  * its identity hash, which differs between JVM runs and between equal
  * tables loaded apart. This compares and hashes the fields by content and
  * prints a table as its shape plus `Arrays.deepHashCode`, e.g.
  * `float[8][64]#1f2e3d4c`. */
trait FloatTableExpression extends Expression {
  private def fields: Array[AnyRef] = productIterator.map(_.asInstanceOf[AnyRef]).toArray

  override protected def stringArgs: Iterator[Any] = productIterator.map {
    case t: Array[_] =>
      def dims(x: Any): List[Int] = x match {
        case a: Array[_] => a.length :: (if (a.isEmpty) Nil else dims(a(0)))
        case _ => Nil
      }
      dims(t).mkString("float[", "][", "]") +
        f"#${java.util.Arrays.deepHashCode(t.asInstanceOf[Array[AnyRef]])}%08x"
    case x => x
  }

  override def equals(o: Any): Boolean = o match {
    case that: FloatTableExpression =>
      (that eq this) || that.getClass == getClass &&
        java.util.Arrays.deepEquals(fields, that.fields)
    case _ => false
  }

  @transient private lazy val contentHash = java.util.Arrays.deepHashCode(fields)
  override def hashCode(): Int = contentHash
}

/** nearest_centroid(vec) -> int — cell id under the embedded (tiny)
  * centroid matrix. Codegen resolves the matrix through
  * `ctx.addReferenceObj`: the object rides the generated plan's serialized
  * `references` array to every executor JVM (the same mechanism built-in
  * expressions use for Literal maps etc.), so the expression is cluster-
  * portable — no process-local registry, no broadcast bookkeeping. The
  * interpreted path reads the same serialized `cents` field. */
case class NearestCentroid(child: Expression, cents: Array[Array[Float]])
    extends UnaryExpression with FloatTableExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "nearest_centroid"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"nearest_centroid expects array<float>, got $t")
  }
  override def nullSafeEval(v: Any): Any =
    Ivf.nearestIdx(v.asInstanceOf[ArrayData].toFloatArray(), cents)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("cents", cents, "float[][]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.operators.Ivf.nearestIdx($v.toFloatArray(), $centsRef);")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** nearest_centroids(vec) -> array<int> — the nProbe nearest cell ids.
  * Cluster-portable codegen via addReferenceObj (see NearestCentroid). */
case class NearestCentroids(child: Expression, cents: Array[Array[Float]], nProbe: Int)
    extends UnaryExpression with FloatTableExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "nearest_centroids"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"nearest_centroids expects array<float>, got $t")
  }
  override def nullSafeEval(v: Any): Any =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(
      Ivf.nearestIdxs(v.asInstanceOf[ArrayData].toFloatArray(), cents, nProbe))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("cents", cents, "float[][]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData" +
        s".fromPrimitiveArray(graft.operators.Ivf.nearestIdxs($v.toFloatArray(), " +
        s"$centsRef, $nProbe));")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
