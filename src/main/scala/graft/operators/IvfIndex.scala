package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED IVF-Flat index — the build-once/search-many form of [[Ivf]].
  *
  * `Ivf.ivfKnn` re-fits the quantizer and re-assigns every corpus vector on
  * each call: correct, but at corpus scale the assignment pass alone reads
  * all 10^12 rows per query batch. Real vector stores (FAISS, Milvus,
  * Vespa) split the lifecycle: TRAIN + ASSIGN once, persist the inverted
  * lists, then serve each query batch by reading ONLY the probed lists.
  * This object is that split on plain parquet:
  *
  *  - [[write]]: fit the deterministic quantizer ([[Ivf.fit]] — bounded
  *    driver-side sample), assign each vector its cell in one codegen'd
  *    scan, and write the corpus PARTITIONED BY cell (`cells/cell=<i>/`)
  *    plus a tiny `centroids/` sidecar table. The partition layout IS the
  *    inverted file: each cell's vectors are physically co-located.
  *  - [[knn]] (broadcast path, bounded query set): probed cell ids are
  *    collected (≤ |queries|·nProbe ints) and pushed as a PARTITION filter,
  *    so the parquet scan lists and reads only the probed directories —
  *    `PartitionFilters` in the plan, ~nProbe/nList of the corpus off disk,
  *    verified by metric in the spec. Candidate formation and the top-k
  *    re-rank are [[Ivf.ivfKnn]]'s exact semantics (same
  *    `Similarity.scoreTopK` tail), so results are bit-identical to the
  *    unindexed path.
  *  - [[knnBulk]] (corpus-sized query set): a big-enough query set probes
  *    essentially every cell, so pruning is vacuous by construction —
  *    instead the win is skipping the assignment scan (cell is a partition
  *    column, already materialized). Shuffled joins end-to-end, nothing
  *    broadcast, same semantics as [[Ivf.ivfKnnBulk]].
  *
  * Scale notes (the 100 TB question): nList directories must stay within
  * filesystem/metastore listing comfort — at 10^12 vectors prefer
  * nList ~ 10^4..10^5 with larger cells (or an Iceberg-style bucket
  * transform) over sqrt(n) ~ 10^6 tiny directories. The index write is one
  * corpus scan + one cell-partitioned shuffle-free write (each task writes
  * its rows into per-cell files); rebuilds are republish-by-rename
  * (`FixtureDirs.ensureAtomic` discipline at the call site), never
  * in-place.
  *
  * Reference analog: the reference persists fetch results keyed for reuse
  * (`/root/reference/fetch/fetcher.go` + storage layer); this is the same
  * amortize-the-expensive-pass idea applied to ANN.
  */
object IvfIndex {

  /** Bump when the layout or assignment semantics change — callers embed
    * it in the directory name (existence-is-validity, no marker files). */
  val Version = 1

  /** An opened index: directory + the (tiny) centroid matrix, driver-side
    * like [[Ivf.fit]]'s return — nList × dim floats. */
  final case class Handle(dir: String, cents: Array[Array[Float]]) {
    def nList: Int = cents.length
    def cellsPath: String = s"$dir/cells"
  }

  /** Fit the quantizer on `corpus` and persist the index under `dir`
    * (`cells/` partitioned by cell + `centroids/`). The caller owns
    * atomicity of `dir` (write to a temp dir, rename to publish). */
  def write(corpus: DataFrame, dir: String, nList: Int,
            iters: Int = 10, sampleN: Int = 10000,
            idCol: String = "vec_id", vecCol: String = "embedding"): Handle = {
    val spark = corpus.sparkSession
    val cents = Ivf.fit(corpus, vecCol, nList, iters, sampleN, idCol)
    corpus.select(col(idCol), col(vecCol),
        Ivf.cellCol(col(vecCol), cents).as("cell"))
      .write.mode(SaveMode.Overwrite).partitionBy("cell")
      .parquet(s"$dir/cells")
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/centroids")
    Handle(dir, cents)
  }

  /** Append new vectors to an existing index under its FROZEN quantizer:
    * each row is assigned a cell with the persisted centroids (one
    * codegen'd map, no shuffle) and appended into the cell layout. The
    * quantizer is deliberately NOT refit — the IVF serving contract
    * (FAISS `add()` semantics): searches over the grown index are
    * bit-identical to a from-scratch assignment of the union under the
    * same centroids, and recall only degrades if the data distribution
    * drifts far from the training sample, at which point you rebuild and
    * republish (atomic-rename discipline at the call site). Single-writer
    * append: concurrent appends interleave safely (parquet part files),
    * but readers racing an in-flight append may see a partial batch —
    * publish by rename where that matters. Works as a streaming sink via
    * `foreachBatch((b, _) => IvfIndex.append(idx, b))`. */
  def append(index: Handle, rows: DataFrame,
             idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    rows.select(col(idCol), col(vecCol),
        Ivf.cellCol(col(vecCol), index.cents).as("cell"))
      .write.mode(SaveMode.Append).partitionBy("cell")
      .parquet(index.cellsPath)

  /** Open a persisted index: loads the centroid sidecar (nList rows). */
  def open(spark: SparkSession, dir: String): Handle = {
    val cents = spark.read.parquet(s"$dir/centroids")
      .select("cell", "centroid").collect()
      .sortBy(_.getInt(0))
      .map(_.getSeq[Float](1).toArray)
    require(cents.nonEmpty, s"empty centroid table under $dir")
    Handle(dir, cents)
  }

  /** Top-k over the persisted index for a BOUNDED query set. Probed cell
    * ids are collected driver-side (≤ |queries|·nProbe) and become a
    * static partition filter on the index read — only the probed
    * directories are listed and scanned. Queries ride broadcast joins.
    * Output: (query_id, rank, cand_id, score_x1e6), bit-identical to
    * [[Ivf.ivfKnn]] over the same corpus/quantizer. */
  def knn(spark: SparkSession, index: Handle, queries: DataFrame, k: Int,
          nProbe: Int,
          idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = Similarity.queryVecs(queries, idCol, vecCol)
    val qCell = Ivf.probes(q, index.cents, nProbe)
    val probed: Seq[Any] = qCell.select("cell").distinct()
      .collect().map(_.getInt(0)).sorted.toIndexedSeq.map(Int.box(_): Any)
    val cells = spark.read.parquet(index.cellsPath)
      .filter(col("cell").isin(probed: _*))
    Ivf.probeKnn(cells.select(col(idCol).as("cand_id"), col("cell")), qCell, q,
      Similarity.candVecs(cells, idCol, vecCol), k, broadcastQueries = true)
  }

  /** Bulk (corpus-sized) query sets over the persisted index: no driver
    * collect, no broadcast, no pruning (a corpus-sized probe set touches
    * every cell) — the index's win here is that `cell` is a partition
    * column, so the assignment pass [[Ivf.ivfKnnBulk]] pays is already on
    * disk. Same semantics, shuffled joins end-to-end. */
  def knnBulk(spark: SparkSession, index: Handle, queries: DataFrame, k: Int,
              nProbe: Int,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = Similarity.queryVecs(queries, idCol, vecCol)
    val cells = spark.read.parquet(index.cellsPath)
    Ivf.probeKnn(cells.select(col(idCol).as("cand_id"), col("cell")),
      Ivf.probes(q, index.cents, nProbe), q,
      Similarity.candVecs(cells, idCol, vecCol), k, broadcastQueries = false)
  }
}
