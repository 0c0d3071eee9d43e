package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  *  - `bruteForceKnn`: the exact baseline — broadcast the (small) query
  *    set against the corpus; one scan, no corpus shuffle, top-k via
  *    per-query window. Scales linearly with corpus size and is the
  *    correctness reference for the ANN path.
  *  - `lshKnnTables`: multi-table hyperplane-LSH bucketing (the scale
  *    path) — queries only score candidates sharing a bucket in some table.
  *
  * Every indexed operator of the family (LSH here, [[Ivf]], [[IvfIndex]],
  * [[Pq]]) has the same two steps: an id-only (query_id, cand_id)
  * candidate stage, then the one [[scoreTopK]] re-rank. Scoring uses the
  * int-quantized cosine (bit-identical across engines and parallelism —
  * see graft.functions.VectorOps); ties break on vec_id.
  */
object Similarity {

  /** Exact top-k: every (query, candidate) pair scored. `queries` must be
    * small enough to broadcast (it is the probe set, not the corpus). */
  def bruteForceKnn(corpus: DataFrame, queries: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    rankTopK(candVecs(corpus, idCol, vecCol)
      .join(broadcast(queryVecs(queries, idCol, vecCol)), notSelf), k)

  /** The query side of every operator: (query_id, qv). */
  private[operators] def queryVecs(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("query_id"), col(vecCol).as("qv"))

  /** The corpus side of every operator: (cand_id, cv). */
  private[operators] def candVecs(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("cand_id"), col(vecCol).as("cv"))

  /** The family's self-match rule: a query never returns itself. */
  private[operators] val notSelf: Column = col("cand_id") =!= col("query_id")

  /** The id-only candidate stage of an index join: non-self pairs only. */
  private[operators] def candPairs(joined: DataFrame): DataFrame =
    joined.filter(notSelf).select("query_id", "cand_id")

  /** Shared candidate-scoring tail for the indexed ANN paths: given a
    * deduped (query_id, cand_id) candidate set, rehydrate both vectors by
    * id, score with the quantized cosine, and keep the top-k per query
    * (ties break on cand_id). One definition so tie-breaking / score
    * scaling / self-match rules cannot drift between index types. */
  private[operators] def scoreTopK(cands: DataFrame, q: DataFrame, c: DataFrame,
                                   k: Int, broadcastQueries: Boolean = true): DataFrame =
    rankTopK(cands
      .join(if (broadcastQueries) broadcast(q) else q, "query_id")
      .join(c, "cand_id"), k)

  /** Score (qv, cv) pairs, rank per query and keep ranks <= k: output
    * (query_id, rank, cand_id, score_x1e6). */
  private def rankTopK(pairs: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k $k < 1")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("cand_id"))
    pairs
      .withColumn("score", qcosine_sim(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"),
        floor(col("score") * 1e6).as("score_x1e6"))
  }

  /** Multi-TABLE LSH ANN (the scale path): `nTables` independent
    * hyperplane tables of `nBits` each; a candidate is scored iff it shares
    * a bucket with the query in ANY table (OR-amplified recall — the same
    * trick as banded MinHash). The corpus pays nTables index entries per
    * vector (standard LSH storage cost); only (id, table, bucket) rides
    * the candidate join — vectors are rehydrated by id AFTER the candidate
    * set is distinct, then scored exactly with the quantized cosine. */
  def lshKnnTables(corpus: DataFrame, queries: DataFrame, k: Int,
                   nBits: Int = 6, nTables: Int = 24,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = candVecs(corpus, idCol, vecCol)
    val q = queryVecs(queries, idCol, vecCol)
    def buckets(df: DataFrame, id: String, vec: String): DataFrame = df.select(col(id),
      posexplode(vec_lsh_buckets(col(vec), lit(nBits), lit(nTables))).as(Seq("table", "bucket")))
    val cands = candPairs(buckets(c, "cand_id", "cv")
      .join(broadcast(buckets(q, "query_id", "qv")), Seq("table", "bucket"))).distinct()
    scoreTopK(cands, q, c, k)
  }
}
