package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._

/** Deduplication operators for the training-data pipeline, all designed as
  * shuffle-once plans that survive a 100 TB corpus:
  *
  *  - exact: hash-groupBy on a normalized digest (one shuffle on the
  *    digest; map-side partial agg keeps it skew-tolerant).
  *  - MinHash + LSH: signature -> band keys -> explode -> groupBy band —
  *    candidate generation never compares all pairs, only same-bucket
  *    collisions (O(n·bands) shuffle rows, not O(n²)).
  *  - SimHash: 64-bit signature, candidates bucketed by 16-bit chunks
  *    (any pair within hamming distance 3 shares at least one of 4 chunks).
  *  - n-gram Jaccard: exact verification applied only to LSH candidates.
  *  - embedding near-dup: quantized-cosine over hyperplane-LSH buckets.
  *
  * Every near-dup operator is the same three steps: id-only candidate
  * pairs ([[bucketPairs]] in a batch, [[deltaPairs]] for an incremental
  * delta), then [[hydrateVerify]] to score each candidate on its payload.
  */
object Dedup {

  /** How candidate pairs get their payloads (text/vector) back after the
    * id-only candidate generation:
    *
    *  - [[Rehydration.Direct]]: plain id-equi-joins of the pair set with
    *    the payload table — ONE pass over the corpus, but the payload
    *    column rides the join shuffle. Right when the corpus comfortably
    *    fits a shuffle (fixture/small scale).
    *  - [[Rehydration.SemiJoin]]: broadcast semi-join reduction — the
    *    candidate ID set (tiny) is broadcast to filter the payload in its
    *    scan stage, so only candidate rows' payload ever reaches a join.
    *    Costs two extra payload scans + a persisted candidate stage;
    *    the ONLY shape that survives a 100 TB corpus (a direct join there
    *    is a corpus-sized payload exchange per side — it filled this
    *    sandbox's disk at sf1 in r3).
    *  - [[Rehydration.Auto]] (default): Direct when the payload side's
    *    plan-stats size is at most [[DirectRehydrateMaxBytes]], SemiJoin
    *    otherwise. Output is IDENTICAL either way (parity-tested); only
    *    the execution shape differs.
    *
    * CACHE LIFECYCLE (of [[hydrateVerify]], which every near-dup operator
    * verifies through): the SemiJoin path persists the candidate pair set
    * (referenced three times — without
    * the stage boundary each reference would re-run the whole
    * signature/DSP scan). By default the persist's lifetime is the
    * caller's — MEMORY_AND_DISK entries are LRU-evicted and recompute
    * correctly, so repeated calls in a long-lived session cost cache
    * metadata, not correctness. A long-lived curation SERVICE wraps each
    * pass in [[withCandidates]], which unpersists every candidate stage
    * registered during the pass on exit (CacheLifecycleSpec pins that
    * nothing survives). The Direct path persists nothing. */
  sealed trait Rehydration
  object Rehydration {
    case object Auto extends Rehydration
    case object Direct extends Rehydration
    case object SemiJoin extends Rehydration
  }

  /** SCOPED cache lifecycle (r6, upgrading the documented LRU-only
    * policy): every candidate-stage persist created while a
    * [[withCandidates]] scope is active is registered with the scope and
    * unpersisted when it exits — a long-lived curation service wraps
    * each pass and leaves the block manager exactly as it found it
    * (CacheLifecycleSpec pins that). Outside a scope the behavior is
    * unchanged (caller-owned lifetime, LRU eviction, documented above).
    * Actions on the returned frames must run INSIDE the scope: after
    * exit they stay CORRECT but recompute the candidate stage. */
  private val cacheScope =
    new scala.util.DynamicVariable[Option[scala.collection.mutable.ArrayBuffer[DataFrame]]](None)

  private def persistCandidates(df: DataFrame): DataFrame = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cacheScope.value.foreach(_ += p)
    p
  }

  def withCandidates[T](f: => T): T = {
    val buf = scala.collection.mutable.ArrayBuffer[DataFrame]()
    try cacheScope.withValue(Some(buf))(f)
    finally buf.foreach(_.unpersist(blocking = false))
  }

  /** Auto threshold: payloads up to this plan-stats size rehydrate by
    * direct join. 1 GiB — a trivially cheap shuffle on any cluster, far
    * below any size where the semi-join reduction's two extra scans pay
    * for themselves. */
  val DirectRehydrateMaxBytes: Long = 1L << 30

  private def choosesDirect(payload: DataFrame, strategy: Rehydration): Boolean =
    strategy match {
      case Rehydration.Direct => true
      case Rehydration.SemiJoin => false
      case Rehydration.Auto =>
        payload.queryExecution.optimizedPlan.stats.sizeInBytes
          .isValidLong && payload.queryExecution.optimizedPlan.stats.sizeInBytes
          .toLong <= DirectRehydrateMaxBytes
    }

  /** Normalize + digest for exact dedup (md5 keeps the oracle portable). */
  def digest(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Exact dedup: one row per distinct normalized text with the canonical
    * (minimum) id and the duplicate count. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(digest(col(textCol)).as("digest"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** The candidate stage of every BATCH near-dup operator: rows sharing a
    * bucket (`keys`; null keys never pair) are paired INSIDE each bucket
    * group. Returns the pairs as structs x, y of `fields` (which include
    * `id`) plus the normalized ids id_a < id_b, kept where `keep(x, y)`.
    *
    * GroupBy-bucket pairing, NOT a bucket self-join (ADVICE r3): a
    * self-join evaluates whatever produced the keys (a signature or DSP
    * kernel, the dominant per-row cost) once per side, and its equi-keys
    * make Catalyst infer IsNotNull constraints that re-evaluate the
    * kernel a second time per row INSIDE a filter below each side
    * (measured 4x total kernel cost on audio). The groupBy form scans
    * once, shuffles only the tiny bucket rows with no inferred constraint
    * filters, and has the same per-bucket pair semantics; group sizes
    * carry the bucket key's skew bound.
    *
    * `salts` > 1 engages hot-bucket CELL pairing (salting the
    * bucket key): each row (salt s = hash(id) mod S) is replicated into
    * the S cells {(s, j): j >= s} ∪ {(i, s): i < s}, the group key gains
    * the cell (a, b), and within a cell x comes from salt a and y from
    * salt b (triangular by id when a == b). Every unordered pair lands in
    * EXACTLY one cell — (min(sa, sb), max(sa, sb)) — so the pair set is
    * IDENTICAL to the unsalted plan (AudioSkewSpec) while a
    * hot group of m rows spreads over S(S+1)/2 tasks of ~2m/S rows each,
    * at S× the (tiny) bucket shuffle volume; the payload never rides it. */
  private def bucketPairs(rows: DataFrame, keys: Seq[String], fields: Seq[String],
      salts: Int = 1, keep: (Column, Column) => Column = (_, _) => lit(true)): DataFrame = {
    require(salts >= 1, s"salts must be >= 1, got $salts")
    val salted = salts > 1
    val cells = if (!salted) rows else rows
      .withColumn("_s", pmod(hash(col("id")), lit(salts)).cast("int"))
      .withColumn("_cell", explode(concat(
        transform(sequence(col("_s"), lit(salts - 1)),
          j => struct(col("_s").as("a"), j.as("b"))),
        transform(
          when(col("_s") > 0, sequence(lit(0), col("_s") - 1))
            .otherwise(array().cast("array<int>")),
          i => struct(i.as("a"), col("_s").as("b"))))))
      .withColumn("_ca", col("_cell.a"))
      .withColumn("_cb", col("_cell.b"))
    val group = (if (salted) keys ++ Seq("_ca", "_cb") else keys).map(col)
    val x = col("x")
    val xs = cells.groupBy(group: _*)
      .agg(collect_list(struct((if (salted) fields :+ "_s" else fields).map(col): _*)).as("xs"))
      .select(group :+ explode(col("xs")).as("x") :+ col("xs"): _*)
    // salted: x takes the left role of its cell, y the right one
    val left = if (salted) xs.filter(x("_s") === col("_ca")) else xs
    def inCell(y: Column) =
      if (salted) y("_s") === col("_cb") && (col("_ca") =!= col("_cb") || x("id") < y("id"))
      else x("id") < y("id")
    left.select(x, explode(filter(col("xs"), y =>
        keys.map(col(_).isNotNull).reduce(_ && _) && inCell(y) && keep(x, y))).as("y"))
      .withColumn("id_a", least(x("id"), col("y.id")))
      .withColumn("id_b", greatest(x("id"), col("y.id")))
  }

  /** The candidate stage of every INCREMENTAL near-dup operator: the
    * pairs a DELTA introduces. The candidate keys of corpus ∪ delta
    * (`corpusKeys`, `deltaKeys`: id, key columns, fields) are equi-joined
    * on `on` to the BROADCAST `probeKeys` — the delta's rows again, or a
    * wider bucket emission of them — whose non-key columns arrive
    * suffixed `_d`. Corpus-corpus pairs cannot form, while corpus-delta
    * AND delta-delta pairs both come out of the one join (a delta-delta
    * pair forms in both join orders: normalized + distinct). `keep`
    * filters the joined rows; `extra` adds output columns. `distinct =
    * false` leaves out the final distinct (and its shuffle): a pair then
    * comes out once per key it shares, for a caller that dedupes the
    * collected pairs itself. */
  private def deltaPairs(corpusKeys: DataFrame, deltaKeys: DataFrame,
      probeKeys: DataFrame, on: Seq[String], keep: Column = lit(true),
      extra: Seq[Column] = Nil, distinct: Boolean = true): DataFrame = {
    val pairs = corpusKeys.unionByName(deltaKeys)
      .join(broadcast(probeKeys.select(probeKeys.columns.toSeq.map(c =>
        if (on.contains(c)) col(c) else col(c).as(c + "_d")): _*)), on)
      .filter(col("id") =!= col("id_d") && keep)
      .select(Seq(least(col("id"), col("id_d")).as("id_a"),
        greatest(col("id"), col("id_d")).as("id_b")) ++ extra: _*)
    if (distinct) pairs.distinct() else pairs
  }

  /** The verify stage of every near-dup operator: hydrate each candidate
    * pair (id_a, id_b) with its `payload` rows (id plus payload columns
    * c, which arrive as c_a / c_b) and keep the pairs whose `score` over
    * them is at least `atLeast`. Returns the pair, `score` and the
    * hydrated payload.
    *
    * SemiJoin ([[Rehydration]]; Auto resolves by payload size): the
    * candidate set is persisted — the stage boundary its three references
    * (the pair probe and both id-set sides) share, so the signature/DSP scan
    * behind it runs once — and the payload is reduced ONCE, by a broadcast
    * semi-join on the union of both sides' ids, into a persisted slice
    * that both pair sides join. A plain join would plan as a sort-merge
    * that hash-shuffles AND sorts the whole payload column to serve a
    * dup-rate-sized candidate set (it filled the sandbox disk at sf1); a
    * reduction per pair side would scan the payload twice. Only candidate
    * rows' payload ever reaches a join. Direct: the pair set is
    * referenced once — no persist, one payload pass. */
  private[graft] def hydrateVerify(pairs: DataFrame, payload: DataFrame,
      strategy: Rehydration, score: Column, atLeast: Double): DataFrame = {
    val direct = choosesDirect(payload, strategy)
    val cands = if (direct) pairs else persistCandidates(pairs)
    val rows = if (direct) payload else persistCandidates(payload.join(
      broadcast(cands.select(col("id_a").as("id"))
        .unionByName(cands.select(col("id_b").as("id"))).distinct()),
      Seq("id"), "leftsemi"))
    def side(s: String) = rows.select(rows.columns.toSeq.map(c => col(c).as(s"${c}_$s")): _*)
    cands.join(side("a"), "id_a").join(side("b"), "id_b")
      .withColumn("score", score)
      .filter(col("score") >= atLeast)
  }

  /** MinHash band keys: the k-minhash signature split into `bands` bands
    * of k/bands rows, one (id, band, bhash) row per band. Document text
    * never rides the LSH candidate shuffle (at 100 TB that is `bands`×
    * copies of the corpus through one exchange); texts are joined back
    * by id afterwards. */
  private def minhashBands(df: DataFrame, textCol: String, idCol: String,
                           k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val r = k / bands
    df.select(col(idCol).as("id"), min_hash(col(textCol), lit(k)).as("sig"))
      .select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("sig"), b * r + 1, lit(r)), b))).as(Seq("band", "bhash")))
  }

  /** MinHash-LSH candidate pairs: same band-hash => candidate. Returns
    * (id_a, id_b) with id_a < id_b. */
  def minhashLsh(df: DataFrame, textCol: String, idCol: String,
                 k: Int = 32, bands: Int = 16): DataFrame =
    bucketPairs(minhashBands(df, textCol, idCol, k, bands), Seq("band", "bhash"), Seq("id"))
      .select("id_a", "id_b").distinct()

  /** MinHash-LSH near-dup detection with exact n-gram-Jaccard verification.
    * Verification touches only the deduplicated LSH candidate PAIRS: texts
    * are rehydrated by id after the candidate set is distinct, so the
    * only exchanges carrying text are keyed by id (size O(corpus)), not
    * by band (size O(corpus x bands)).
    *
    * PRECONDITION: `idCol` must be unique per row (duplicate ids would
    * multiply rehydrated pairs). The rehydration side is defensively
    * deduplicated so a violated precondition degrades to arbitrary-text-
    * per-id rather than duplicated output rows.
    *
    * Output schema note (changed in r2, kept stable since): the verified
    * similarity column is `jaccard_x1e4` (floored long; integer-exact
    * across engines) and the default is bands=16 — callers of the r1
    * `jaccard` double column / bands=8 default must update. */
  def nearDupJaccard(df: DataFrame, textCol: String, idCol: String,
                     threshold: Double = 0.7, k: Int = 32, bands: Int = 16,
                     rehydration: Rehydration = Rehydration.Auto): DataFrame =
    jaccardVerified(minhashLsh(df, textCol, idCol, k, bands),
      df.select(col(idCol).as("id"), col(textCol).as("text")).dropDuplicates("id"),
      threshold, rehydration)

  private def jaccardVerified(pairs: DataFrame, texts: DataFrame,
                              threshold: Double, strategy: Rehydration): DataFrame =
    hydrateVerify(pairs, texts, strategy, jaccard_sim(col("text_a"), col("text_b")), threshold)
      .select(col("id_a"), col("id_b"),
        floor(col("score") * 1e4).cast("long").as("jaccard_x1e4"))

  /** INCREMENTAL near-dup: the pairs a DELTA introduces against an
    * existing corpus — the append-only case (a daily ingest batch checked
    * against everything already ingested) where re-pairing corpus x
    * corpus would redo quadratic work for a sliver of new rows. The
    * corpus pays ONE signature scan; candidates come from [[deltaPairs]]
    * over the banded buckets (the broadcast side is delta-sized, never
    * corpus-sized), delta-delta pairs included. The verify stage is
    * [[nearDupJaccard]]'s exact Jaccard, with the same Auto rehydration
    * (a tiny corpus takes the direct join, a real one the semi-join
    * reduction; output identical either way). On a corpus whose every
    * duplicate involves the delta, the output equals the batch
    * operator's — exactly what the d8 oracle states. */
  def nearDupJaccardIncremental(corpus: DataFrame, delta: DataFrame,
      textCol: String, idCol: String, threshold: Double = 0.7,
      k: Int = 32, bands: Int = 16): DataFrame = {
    val db = minhashBands(delta, textCol, idCol, k, bands)
    def texts(df: DataFrame) = df.select(col(idCol).as("id"), col(textCol).as("text"))
    jaccardVerified(
      deltaPairs(minhashBands(corpus, textCol, idCol, k, bands), db, db, Seq("band", "bhash")),
      texts(corpus).unionByName(texts(delta)).dropDuplicates("id"),
      threshold, Rehydration.Auto)
  }

  /** Quality-aware canonical selection — the step between clustering and
    * dropping that a real pipeline runs: per duplicate cluster
    * ([[components]] output), keep the member with the
    * HIGHEST quality score (ties -> lowest id), not the lowest id. Two
    * bounded shuffles on the cluster label (per-cluster argmax + the
    * mapping join); quality rides a plain id join, so any scoring column
    * (length, language confidence, model score) plugs in. Returns
    * (id, keep_id) for every clustered id. */
  def keepBest(labels: DataFrame, quality: DataFrame, idCol: String,
               qualityCol: String, labelCol: String = "canonical_id"): DataFrame = {
    val withQ = labels
      .join(quality.select(col(idCol).as("id"), col(qualityCol).as("_q")), "id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(labelCol)).orderBy(col("_q").desc, col("id"))
    val best = withQ.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col(labelCol), col("id").as("keep_id"))
    withQ.join(best, labelCol).select(col("id"), col("keep_id"))
  }

  /** Small-graph bound of [[components]]: a pair graph with at most this
    * many distinct edges is collected and labeled on the driver. 2^18
    * edges of two ids each stay a few tens of MB of driver heap; the dup
    * graphs of every fixture are thousands of edges. */
  private val DriverComponentsMaxEdges: Long = 1L << 18

  /** Duplicate-CLUSTER canonicalization: connected components over an
    * undirected near-dup pair list — every id is assigned the MINIMUM id
    * reachable through the pair graph, in Spark's ordering of the id type
    * (UTF-8 bytes for strings), i.e. the canonical representative a
    * curation pass keeps (pairs alone don't answer "which copy
    * survives?" once duplicates chain A~B~C).
    *
    * One prefix, one branch. The prefix checkpoints the oriented
    * (hi > lo), distinct edge set; its edge count rides that job through
    * an Observation. Then:
    *  - at most [[DriverComponentsMaxEdges]] edges: one collect and a
    *    union-find on the driver ([[driverComponents]]) — one job where a
    *    Spark round costs several;
    *  - more: star contraction ([[componentsStar]]), O(log n) rounds
    *    whatever the component diameter. `maxIters` bounds those rounds,
    *    and non-convergence FAILS loudly rather than returning a
    *    half-contracted labeling.
    * Both branches land the same labeling (spec-pinned on a 64-deep chain
    * and the real near-dup graph) and are deterministic under
    * partitioning.
    *
    * Self-pairs (id_a == id_b) are ignored: an id seen only in
    * self-pairs is not emitted.
    *
    * Output: (id, canonical_id) for every id that appears in a pair —
    * rows not in any pair are their own canonical id by definition and
    * are not emitted (join the corpus with a coalesce to materialize the
    * full keep-list). */
  def components(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
                 maxIters: Int = 25): DataFrame = {
    val (orig, edges, sig) = orientedEdges(pairs, idA, idB)
    if (sig._1 <= DriverComponentsMaxEdges) driverComponents(edges)
    else starRounds(orig, edges, sig, maxIters)
  }

  /** The large-graph branch of [[components]] run unconditionally, so d6
    * and the specs exercise star contraction on small graphs too. */
  private[graft] def componentsStar(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIters: Int = 25): DataFrame = {
    val (orig, edges, sig) = orientedEdges(pairs, idA, idB)
    starRounds(orig, edges, sig, maxIters)
  }

  /** The shared prefix of [[components]]: the non-self pairs as (a, b),
    * and the (hi, lo) edge checkpoint with its signature. */
  private def orientedEdges(pairs: DataFrame, idA: String, idB: String)
      : (DataFrame, DataFrame, (Long, Long)) = {
    val orig = pairs
      .select(col(idA).as("a"), col(idB).as("b"))
      .filter(col("a") =!= col("b"))
    val (edges, sig) = edgeCheckpoint(orig.select(
      greatest(col("a"), col("b")).as("hi"), least(col("a"), col("b")).as("lo")), 0)
    (orig, edges, sig)
  }

  /** Distinct (hi, lo) edges, eagerly checkpointed, with their signature
    * (count, XOR of per-edge hashes) riding the checkpoint job through an
    * Observation — zero extra jobs. The checkpoint also truncates
    * lineage, so a star round's plan never grows with the round count. */
  private def edgeCheckpoint(edges: DataFrame, round: Int): (DataFrame, (Long, Long)) = {
    val obs = org.apache.spark.sql.Observation(s"components-$round")
    val cp = edges.distinct()
      .observe(obs, count(lit(1)).as("n_edges"),
        expr("bit_xor(xxhash64(hi, lo))").as("x_edges"))
      .localCheckpoint(true)
    def l(v: Any): Long = v match {
      case null => 0L
      case n: java.lang.Long => n.longValue()
      case other => other.toString.toLong
    }
    (cp, (l(obs.get("n_edges")), l(obs.get("x_edges"))))
  }

  /** Small branch of [[components]]: collect the edges and union-find
    * them on the driver, then let Spark take the `min` id of each union-find
    * root, so the canonical id follows Spark's ordering of the id type,
    * never the JVM's. */
  private def driverComponents(edges: DataFrame): DataFrame = {
    val parent = scala.collection.mutable.HashMap[Any, Any]()
    def find(v0: Any): Any = {
      var v = parent.getOrElseUpdate(v0, v0)
      while (parent(v) != v) { parent(v) = parent(parent(v)); v = parent(v) }
      v
    }
    edges.collect().foreach(e => parent(find(e.get(0))) = find(e.get(1)))
    val rows = parent.keys.toSeq.map(v => org.apache.spark.sql.Row(v, find(v)))
    val id = edges.schema("hi")
    edges.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*),
        org.apache.spark.sql.types.StructType(Seq(id.copy(name = "id"), id.copy(name = "_root"))))
      .select(col("id"), min(col("id"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("_root"))
        .as("canonical_id"))
  }

  /** Large branch of [[components]]: alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC 2014 — public algorithm, re-derived here on
    * DataFrames). It converges in O(log^2 n) rounds worst-case (O(log n)
    * observed) regardless of component diameter, so deep chains (link
    * graphs, session stitching, transitive reference closure) cost no
    * more rounds than shallow dup clusters.
    *
    * Each round (edges kept oriented hi > lo, distinct):
    *  - large-star: every node u connects its LARGER neighbors to
    *    m(u) = min(neighborhood of u, u itself);
    *  - small-star: every node u connects its smaller neighbors and
    *    itself to the minimum of its smaller neighborhood.
    * Both steps preserve connectivity and never create self-edges; the
    * unique fixed point is disjoint stars centered at component minima.
    *
    * Convergence is detected by the edge-set signature of
    * [[edgeCheckpoint]], and then PROVEN by a final certificate: every id
    * carries exactly one label and every ORIGINAL pair's endpoints agree
    * — a labeling that passes is a single star per component, centered at
    * the component min (the min can never be a leaf: it would have to be
    * the `hi` of an oriented edge). A signature collision or an early
    * stop cannot slip through the certificate. */
  private def starRounds(orig: DataFrame, edges0: DataFrame, sig0: (Long, Long),
                         maxIters: Int): DataFrame = {
    var (edges, sig) = (edges0, sig0)
    var prev = (-1L, -1L)
    var i = 0
    while (sig != prev && i < maxIters) {
      prev = sig
      // large-star: process every edge from BOTH endpoints; from node u,
      // each strictly larger neighbor v re-attaches to m(u). v > u >= m(u)
      // keeps the (hi, lo) orientation strict with no self-edges.
      val und = edges.select(col("hi").as("u"), col("lo").as("v"))
        .union(edges.select(col("lo").as("u"), col("hi").as("v")))
      val mins = und.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      val large = und.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
      // small-star: node hi's smaller neighborhood {lo...} re-attaches
      // (hi included) to its minimum; lo > m on every emitted edge.
      val smins = large.groupBy("hi").agg(min(col("lo")).as("m"))
      val small = large.join(smins, "hi")
        .filter(col("lo") =!= col("m"))
        .select(col("lo").as("hi"), col("m").as("lo"))
        .union(smins.select(col("hi"), col("m").as("lo")))
      val (next, nextSig) = edgeCheckpoint(small, i + 1)
      edges = next
      sig = nextSig
      i += 1
    }
    require(sig == prev,
      s"components did not converge in $maxIters star rounds; raise maxIters")
    val labels = edges.select(col("hi").as("id"), col("lo").as("label"))
      .union(edges.select(col("lo").as("id"), col("lo").as("label")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Fixpoint certificate (two bounded end-of-run jobs, not per-round):
    // unique label per id + label agreement across every original pair.
    val nMulti = labels.groupBy("id").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).count()
    val nSplit = orig
      .join(labels.select(col("id").as("a"), col("label").as("la")), "a")
      .join(labels.select(col("id").as("b"), col("label").as("lb")), "b")
      .filter(col("la") =!= col("lb")).count()
    require(nMulti == 0 && nSplit == 0,
      s"components star certificate failed ($nMulti multi-labeled ids, " +
        s"$nSplit split pairs) — converged state is not a star labeling")
    // the persist only serves the certificate's two jobs; the caller's
    // action recomputes labels from the CHECKPOINTED star edges (one tiny
    // distinct) — nothing accumulates in the cache across calls.
    labels.unpersist(false)
    labels.select(col("id"), col("label").as("canonical_id"))
  }

  /** SimHash near-dup: pairs within `maxHamming` of each other. Candidate
    * buckets = the 4 16-bit chunks of the signature (pigeonhole: hamming
    * <= 3 => at least one identical chunk). */
  def simhashNearDup(df: DataFrame, textCol: String, idCol: String,
                     maxHamming: Int = 3): DataFrame =
    hashNearDup(
      df.select(col(idCol).as("id"), sim_hash(col(textCol)).as("sig")),
      maxHamming)

  /** The candidate-key columns for a given radius — shared by the batch
    * pairing, the stored key table ([[hashKeys]]) and the incremental
    * path. See [[hashNearDup]] for the scheme and its scale math. */
  private def hashKeyCols(maxHamming: Int): Seq[Column] = {
    val nChunks = maxHamming + 1
    val w = (64 + nChunks - 1) / nChunks
    (0 until nChunks).map { i =>
      val width = math.min(w, 64 - i * w)
      shiftrightunsigned(col("sig"), i * w)
        .bitwiseAND(lit(if (width >= 64) -1L else (1L << width) - 1))
    }
  }

  /** The EXPLODED candidate-key table of a signature set: (id, sig,
    * chunk, ckey) — what a pipeline stores NEXT TO the signatures at
    * ingest (the audioFingerprints discipline applied to hash keys), so
    * every later incremental batch joins against stored columns without
    * recomputing a single key. C(maxHamming+4, 4) rows per signature at
    * wide radii — linear, scan-only, parquet-compressed.
    *
    * The wide-radius (>= 5) combination keys come from the native
    * `hash_comb_keys` kernel (r7): identical key values to the former
    * C(c,4)-element expression tree, but one small codegen'd call instead
    * of ~10k expression nodes — the tree form dominated i4/v3/v4's time
    * in optimizer walks and produced projection methods far past the JIT
    * compile threshold (see [[graft.functions.HashCombKeysKernel]]). */
  def hashKeys(sigs: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 31,
      s"maxHamming must be in [0, 31], got $maxHamming")
    val keysArray =
      if (maxHamming <= 4) array(hashKeyCols(maxHamming): _*)
      else graft.functions.Kernels.hashCombKeys(maxHamming)(col("sig"))
    // NULL signatures (a hash kernel's null for a corrupt payload)
    // contribute NO candidate keys at either radius — normalized
    // explicitly because the two branches would otherwise disagree (the
    // expression array yields null ELEMENTS, the null-intolerant kernel
    // call a null ARRAY). Pairing never consumed null-key rows anyway
    // (the in-group filters drop them); this pins the stored-key-table
    // row contract to the same rule.
    sigs.filter(col("sig").isNotNull)
      .select(col("id"), col("sig"),
        posexplode(keysArray).as(Seq("chunk", "ckey")))
  }

  /** INCREMENTAL hash near-dup — the i4/v3/d3 analog of
    * [[audioNearDupIncremental]]: a DELTA of new signatures pairs against
    * a corpus whose candidate keys are already materialized
    * ([[hashKeys]], stored at ingest). The corpus pays ONE scan of its
    * stored key table (zero key recomputation, zero decode); candidates
    * come from [[deltaPairs]] against the BROADCAST chunk-keyed delta
    * (delta-sized), delta-delta pairs included, with the exact hamming
    * filter on the joined signatures. On a corpus whose every qualifying
    * pair touches the delta the output equals the batch operator's
    * (spec-pinned, and the v4 oracle states it on planted video twins).
    *
    * CONTRACT: `corpusKeys` must be MATERIALIZED columns (a stored
    * table / checkpoint) — the same inferred-IsNotNull rationale as
    * [[audioNearDupIncremental]]'s fingerprint contract. */
  def hashNearDupIncremental(corpusKeys: DataFrame, deltaSigs: DataFrame,
                             maxHamming: Int = 3): DataFrame = {
    // referenced twice (union side + broadcast side): materialize once
    val dKeys = hashKeys(deltaSigs.select(col("id"), col("sig")).localCheckpoint(true),
      maxHamming)
    val hamming = bit_count(col("sig").bitwiseXOR(col("sig_d"))).cast("int")
    deltaPairs(corpusKeys.select("id", "sig", "chunk", "ckey"), dKeys, dKeys,
      Seq("chunk", "ckey"), keep = hamming <= maxHamming,
      extra = Seq(hamming.as("hamming")))
  }

  /** Near-dup pairs over ANY 64-bit signature column (`sigs` = (id, sig))
    * within `maxHamming` bits — shared by text SimHash (d3), image dHash
    * (i4) and video frame-hash (v3). The exact hamming filter inside the
    * group provides precision; candidate generation is complete and never
    * all-pairs, with the bucketing scheme chosen by radius:
    *
    *  - maxHamming <= 4 (SINGLE-CHUNK pigeonhole): buckets are the
    *    maxHamming+1 chunks of the signature — any pair within hamming h
    *    differs in at most h chunks, so shares at least one. Chunk width
    *    >= 12 bits here, so organic (near-uniform) occupancy is n/4096
    *    per bucket and candidate volume stays ~n²·(h+1)/2^13 — fine.
    *
    *  - maxHamming >= 5 (COMBINATION-CHUNK keys, r6 — the i4 scale fix):
    *    the single-chunk scheme degrades as chunks narrow (at h=8, 9
    *    chunks of <= 8 bits give only ~2,300 buckets TOTAL, and the 9th
    *    chunk has width ZERO — a degenerate bucket holding the whole
    *    corpus, i.e. organic candidate growth is literally n²/2). Split
    *    the signature into c = maxHamming+4 chunks instead and key on
    *    every 4-SUBSET of chunk values: a pair within hamming h differs
    *    in at most h chunks, so shares >= c-h = 4 identical chunks, so
    *    some 4-subset key matches — recall stays pigeonhole-complete.
    *    Keys carry 4*(64/c) >= 21 bits (h=8: ~2.6M values per combo), so
    *    expected organic candidate volume drops from ~n²/2 to
    *    ~C(c,4)·n²/2^22 (h=8: ~1e-4·n², a >5000x cut), at the price of
    *    C(c,4) emissions per row (h=8: 495) — a LINEAR-in-n shuffle of
    *    tiny (id, sig, key) rows, the right trade at any corpus size.
    *    Occupancy/volume math is pinned by HashNearDupScaleSpec.
    *
    * One signature scan, one key-shuffle of (id, sig) rows — the payload
    * the signature came from never rides anything. `salts` > 1 spreads
    * hot buckets (exact-dup images, boilerplate text) over cells with an
    * identical pair set — see [[bucketPairs]]. */
  def hashNearDup(sigs: DataFrame, maxHamming: Int = 3,
                  salts: Int = 1): DataFrame =
    bucketPairs(hashKeys(sigs, maxHamming), Seq("chunk", "ckey"), Seq("id", "sig"), salts)
      .select(col("id_a"), col("id_b"),
        bit_count(col("x.sig").bitwiseXOR(col("y.sig"))).cast("int").as("hamming"))
      .distinct().filter(col("hamming") <= maxHamming)

  /** Embedding near-dup via quantized cosine over MULTI-TABLE hyperplane-
    * LSH buckets: `nTables` independent tables of `nBits` hyperplanes;
    * candidates = pairs sharing a bucket in ANY table (OR-amplified recall,
    * AND-selective per-table buckets). Only (id, table, bucket) rides the
    * candidate shuffle — vectors are rehydrated by id AFTER the candidate
    * pair set is distinct, then scored exactly with the quantized cosine.
    * At 2^nBits buckets/table the scored-pair count is ~nTables·n²/2^nBits
    * in expectation — never all-pairs. */
  def embeddingNearDup(df: DataFrame, vecCol: String, idCol: String,
                       threshold: Double = 0.90, nBits: Int = 8,
                       nTables: Int = 16,
                       rehydration: Rehydration = Rehydration.Auto): DataFrame = {
    // PRECONDITION: idCol unique per row (see nearDupJaccard) — defended
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .dropDuplicates("id")
    val pairs = bucketPairs(embeddingBuckets(vecs, "v", "id", nBits, nTables),
      Seq("table", "bucket"), Seq("id")).select("id_a", "id_b").distinct()
    cosineVerified(pairs, vecs, threshold, rehydration)
  }

  private def cosineVerified(pairs: DataFrame, vecs: DataFrame,
                             threshold: Double, strategy: Rehydration): DataFrame =
    hydrateVerify(pairs, vecs, strategy, qcosine_sim(col("v_a"), col("v_b")), threshold)
      .select(col("id_a"), col("id_b"), floor(col("score") * 1e6).as("cos_x1e6"))

  /** The exploded hyperplane-LSH bucket table of a vector set:
    * (id, table, bucket) — stored next to the vectors at ingest (the
    * hashKeys/audioFingerprints discipline), so incremental batches join
    * against stored columns with zero bucket recomputation. */
  def embeddingBuckets(df: DataFrame, vecCol: String, idCol: String,
                       nBits: Int = 8, nTables: Int = 16): DataFrame =
    df.select(col(idCol).as("id"),
      posexplode(vec_lsh_buckets(col(vecCol), lit(nBits), lit(nTables)))
        .as(Seq("table", "bucket")))

  /** INCREMENTAL embedding near-dup — completes the incremental family
    * (text d8, audio c20, hash v4, embeddings here): a DELTA of new
    * vectors pairs against a corpus whose LSH buckets are already
    * materialized ([[embeddingBuckets]]). One stored-bucket scan on the
    * corpus, candidates from [[deltaPairs]] against the BROADCAST
    * bucketed delta (delta-sized, corpus-corpus pairs cannot form,
    * delta-delta pairs included), exact quantized-cosine verify on
    * vectors rehydrated with [[embeddingNearDup]]'s Auto switch. Same
    * output schema as [[embeddingNearDup]].
    *
    * CONTRACT: `corpusBuckets` must be MATERIALIZED columns (stored
    * table / checkpoint) — the audioNearDupIncremental rationale. */
  def embeddingNearDupIncremental(corpusBuckets: DataFrame, corpusVecs: DataFrame,
      delta0: DataFrame, vecCol: String, idCol: String,
      threshold: Double = 0.90, nBits: Int = 8, nTables: Int = 16): DataFrame = {
    val delta = delta0.select(col(idCol).as("id"), col(vecCol).as("v"))
      .localCheckpoint(true)
    val dBuckets = embeddingBuckets(delta, "v", "id", nBits, nTables)
    cosineVerified(
      deltaPairs(corpusBuckets.select("id", "table", "bucket"), dBuckets, dBuckets,
        Seq("table", "bucket")),
      corpusVecs.select(col(idCol).as("id"), col(vecCol).as("v"))
        .unionByName(delta).dropDuplicates("id"),
      threshold, Rehydration.Auto)
  }

  /** AUDIO near-dup: parametric acoustic fingerprints. Each clip is
    * reduced IN THE SCAN STAGE (decode+DSP runs once, bytes never reach a
    * shuffle) to (sr, n_samples, f1, f2) — `pcm_tone_pair` estimates the
    * two strongest tones to integer Hz. The same audio re-encoded through
    * another codec reproduces (sr, n, f1) EXACTLY (the dominant tone's
    * integer argmax has enormous noise margin) while the weaker second
    * tone can fall back to the chirp's swept band and jitter by a few Hz
    * across re-encodes — so the
    * plan buckets exactly on (sr, n, f1) (one hash shuffle of tiny
    * fingerprint rows, Dedup.exact discipline; group sizes are bounded by
    * the key's cardinality) and verifies |Δf2| <= tolHz inside the group.
    * Spectrally-global features (band-energy vectors) provably CANNOT do
    * this: tones 1 Hz apart are identical at any fixed band resolution
    * (measured organic cosine 1.000000 at 64 bands). */
  def audioNearDup(clips: DataFrame, tolHz: Int = 8,
                   idCol: String = "clip_id", bytesCol: String = "bytes",
                   codecCol: String = "codec", srCol: String = "sr_hz"): DataFrame =
    bucketPairs(audioFingerprints(clips, idCol, bytesCol, codecCol, srCol),
        Seq("sr", "n", "f1"), Seq("id", "f2"),
        keep = (x, y) => abs(x("f2") - y("f2")) <= tolHz)
      .select("id_a", "id_b")

  /** TIME-SHIFT-ROBUST audio near-dup: recovers twins with up to `maxTrim`
    * leading samples trimmed (and/or a codec transcode).
    *
    * Two stages, both 100 TB-shaped:
    *
    *  1. CANDIDATES from fingerprints only (bytes never below the join):
    *     the tone estimates are shift-invariant (stationary tones keep
    *     their integer-Hz argmax under a phase shift), so the key is
    *     (sr, f1, duration-bucket) — `n` leaves the exact key (trim
    *     changes it) for a bucket of width > maxTrim, each row emitting
    *     buckets {n/B, n/B + 1} so any pair with |Δn| <= maxTrim shares a
    *     bucket. In-group filters: |Δn| <= maxTrim, |Δf2| <= tolHz (wider
    *     than audioNearDup's: a trim shifts the chirp band f2 falls back
    *     to by rate·trim/sr, up to ~7 Hz on the fixture).
    *  2. EXACT VERIFY on rehydrated candidate bytes: normalized cross-
    *     correlation aligned at the length difference
    *     (`pcm_aligned_corr` >= minCorr). True twins sit near 1 (bounded
    *     by G.711 round-trip SNR ≈ 30 dB => corr ≈ 0.999); unrelated
    *     signals near 0 — so PRECISION comes from the verify, not from
    *     hoping the fingerprint key is collision-free at corpus scale
    *     (expected organic (sr,f1,Δn,Δf2) collisions grow ~n² and WILL
    *     appear at 10^12 rows; each costs one bounded verify, not a wrong
    *     answer).
    *
    * Skew: group sizes are bounded by the (sr, f1, nb, f2b) key
    * cardinality; a corpus of near-identical tones hot-spots one key.
    * `salts` > 1 engages cell pairing ([[bucketPairs]]) — identical
    * output, hot group spread over S(S+1)/2 tasks (AudioSkewSpec:
    * planted one-key corpus, salted == unsalted).
    *
    * The SECOND tone also rides the candidate key as a bucket (width
    * tolHz, adjacent-bucket emission like nb — any |Δf2| <= tolHz pair
    * shares one): measured at sf1, (sr, f1, nb) alone let organic
    * collisions grow ~quadratically with corpus density (c15 scaled 14.7x
    * at 10x rows); the f2 bucket divides candidate groups by the second
    * tone's ~137-bucket cardinality while recall stays exact — the
    * in-group filters and the aligned-corr verify are unchanged, so the
    * OUTPUT is identical, only the pruned candidate volume differs.
    *
    * Rehydration is always the semi-join reduction: the payload is the
    * BINARY byte column, the fattest in the engine, and the global plan
    * gate (PlanQualitySpec) forbids un-reduced binary shuffles at every
    * scale. */
  def audioNearDupShift(clips: DataFrame, maxTrim: Int = ShiftMaxTrim, tolHz: Int = ShiftTolHz,
                        minCorr: Double = 0.8,
                        idCol: String = "clip_id", bytesCol: String = "bytes",
                        codecCol: String = "codec", srCol: String = "sr_hz",
                        salts: Int = 1): DataFrame = {
    val fp = shiftBuckets(audioFingerprints(clips, idCol, bytesCol, codecCol, srCol),
      maxTrim, tolHz, 0, 1)
    val pairs = bucketPairs(fp, Seq("sr", "f1", "nb", "f2b"), Seq("id", "n", "f2"), salts,
        (x, y) => shiftRule(maxTrim, tolHz)(x(_), y(_)))
      .select("id_a", "id_b").distinct()
    corrVerified(pairs, clips.select(col(idCol).as("id"),
      col(bytesCol).as("bytes"), col(codecCol).as("codec")), minCorr)
      .select("id_a", "id_b")
  }

  /** The default tolerances of the shift-robust audio family: a twin may
    * be trimmed by up to `ShiftMaxTrim` samples and its second tone may
    * move by up to `ShiftTolHz` Hz. */
  val ShiftMaxTrim: Int = 160
  val ShiftTolHz: Int = 16

  /** The shift-robust candidate keys of a fingerprint table (id, sr, n,
    * f1, f2): duration bucket nb (width > maxTrim) and second-tone bucket
    * f2b (width tolHz), each emitted at every bucket offset in
    * `offsets`. Keys and fields leave through ONE generator, so the
    * IsNotNull filters Catalyst infers from a join on them (and from its
    * |Δ| filters) stay above it instead of re-running a tone kernel
    * below it (the r4 inferred-constraint tax). */
  private def shiftBuckets(fp: DataFrame, maxTrim: Int, tolHz: Int,
                           offsets: Int*): DataFrame = {
    require(maxTrim >= 0, s"maxTrim must be >= 0, got $maxTrim")
    val nb = (col("n") / math.max(256, maxTrim + 1)).cast("int")
    val f2b = (col("f2") / math.max(tolHz, 1)).cast("int")
    fp.select(col("id"), col("sr"), explode(array((for (i <- offsets; j <- offsets)
        yield struct(col("n"), col("f1"), col("f2"), (nb + i).as("nb"), (f2b + j).as("f2b"))): _*))
        .as("k"))
      .select("id", "sr", "k.*")
  }

  /** The in-key filter of the shift-robust candidates: |Δn| <= maxTrim and
    * |Δf2| <= tolHz between the fingerprint columns `x(c)` and `y(c)`. */
  private def shiftRule(maxTrim: Int, tolHz: Int)(x: String => Column,
      y: String => Column): Column =
    abs(x("n") - y("n")) <= maxTrim && abs(x("f2") - y("f2")) <= tolHz

  /** Whether two fingerprints (fields sr, n, f1, f2 of `x(c)` and `y(c)`)
    * form a candidate pair of [[audioCandidatesAgainst]] at its default
    * tolerances: same (sr, f1) and [[shiftRule]]. The bucket widths exceed
    * the tolerances, so a pair within both tolerances always shares a
    * probed (nb, f2b) key: this is the candidate condition itself, for a
    * caller that re-checks it on other versions of the same rows. */
  private[graft] def audioCandidateRule(x: String => Column, y: String => Column): Column =
    x("sr") === y("sr") && x("f1") === y("f1") && shiftRule(ShiftMaxTrim, ShiftTolHz)(x, y)

  /** The verify score of every audio near-dup pair hydrated with (bytes,
    * codec): normalized cross-correlation aligned at the length
    * difference. */
  private[graft] def alignedCorr: Column =
    pcm_aligned_corr(col("bytes_a"), col("codec_a"), col("bytes_b"), col("codec_b"))

  private def corrVerified(pairs: DataFrame, payload: DataFrame, minCorr: Double): DataFrame =
    hydrateVerify(pairs, payload, Rehydration.SemiJoin, alignedCorr, minCorr)

  /** Ingest-time acoustic fingerprint table: (id, sr, n, f1, f2) — ONE
    * DSP scan per clip, ever. A pipeline stores this next to the bytes at
    * ingest (the decode-once discipline) and every later incremental
    * batch pairs against the fingerprint TABLE without re-decoding a
    * corpus byte — see [[audioNearDupIncremental]]. */
  def audioFingerprints(clips: DataFrame, idCol: String = "clip_id",
      bytesCol: String = "bytes", codecCol: String = "codec",
      srCol: String = "sr_hz"): DataFrame =
    clips.select(col(idCol).as("id"), col(srCol).as("sr"),
        pcm_sample_count(col(bytesCol), col(codecCol)).as("n"),
        pcm_tone_pair(col(bytesCol), col(codecCol), col(srCol)).as("tones"))
      .select(col("id"), col("sr"), col("n"),
        element_at(col("tones"), 1).as("f1"), element_at(col("tones"), 2).as("f2"))

  /** INCREMENTAL audio near-dup (the c15 semantics for an append-only
    * corpus): a DELTA of new clips checked against an existing corpus
    * whose fingerprints are already materialized ([[audioFingerprints]]).
    * The corpus pays ZERO DSP this run — its (id, sr, n, f1, f2) rows
    * join as-is; the delta is fingerprinted once and the pairs come from
    * [[audioCandidatesAgainst]].
    *
    * The delta is referenced several times (its fingerprints and its
    * payload side) — it is materialized ONCE, eagerly: a lazy persist
    * still races when the verify stage's broadcast subtrees evaluate
    * concurrently (each broadcast job is a future; two of them can both
    * compute the un-filled cache from scratch, re-running whatever
    * produced the delta — measured 3x cost on c20's in-query twin
    * construction). localCheckpoint(eager=true) is the iterative-
    * algorithm idiom ([[components]]); delta-sized by contract (a
    * micro-batch / daily ingest), so the blocks are small at any corpus
    * scale.
    *
    * CONTRACT: `corpusFp` must be MATERIALIZED columns (a table read /
    * checkpoint), which is what "fingerprints stored at ingest" means. A
    * kernel pipeline passed here still returns correct output but pays
    * the r4 inferred-constraint tax: the candidate join's keys would be
    * kernel-computed, and Catalyst's inferred IsNotNull filters re-run
    * the DSP per key column (measured ~5x on c20's first draft). */
  def audioNearDupIncremental(corpusFp: DataFrame, corpusClips: DataFrame,
      delta0: DataFrame, maxTrim: Int = ShiftMaxTrim, tolHz: Int = ShiftTolHz,
      minCorr: Double = 0.8, idCol: String = "clip_id",
      bytesCol: String = "bytes", codecCol: String = "codec",
      srCol: String = "sr_hz"): DataFrame = {
    val delta = delta0.localCheckpoint(true)
    def payload(df: DataFrame) =
      df.select(col(idCol).as("id"), col(bytesCol).as("bytes"), col(codecCol).as("codec"))
    corrVerified(audioCandidatesAgainst(corpusFp,
        audioFingerprints(delta, idCol, bytesCol, codecCol, srCol), maxTrim, tolHz),
      payload(corpusClips).unionByName(payload(delta)), minCorr)
      .select("id_a", "id_b")
  }

  /** The candidate pairs (id_a, id_b) a delta with fingerprints `deltaFp`
    * introduces against a corpus with fingerprints `corpusFp` (both (id,
    * sr, n, f1, f2)), before any payload is read.
    * Bucket adjacency is ONE-SIDED: the corpus and the delta union side
    * keep a single primary (nb, f2b) bucket per clip and only the
    * broadcast delta probe emits the 3x3 adjacent buckets {b-1, b, b+1}
    * on BOTH axes. A twin's primary bucket can sit on EITHER side of the
    * probe's (a delta clip longer than its corpus twin across a bucket
    * edge has n_c/W = n_d/W - 1, and symmetrically for f2), so one-sided
    * {b, b+1} emission silently missed the longer-delta direction
    * (ADVICE r5, high; pinned by CurationPipelineSpec and AudioDedupSpec).
    * Any pair within (maxTrim, tolHz) therefore shares a key, whether its
    * partner is in the corpus or in the delta, while the corpus side
    * stays one row per clip. `distinct = false`: see [[deltaPairs]]. */
  private[graft] def audioCandidatesAgainst(corpusFp: DataFrame, deltaFp: DataFrame,
      maxTrim: Int = ShiftMaxTrim, tolHz: Int = ShiftTolHz,
      distinct: Boolean = true): DataFrame = {
    def keys(fp: DataFrame, offsets: Int*) =
      shiftBuckets(fp.select("id", "sr", "n", "f1", "f2"), maxTrim, tolHz, offsets: _*)
    deltaPairs(keys(corpusFp, 0), keys(deltaFp, 0), keys(deltaFp, -1, 0, 1),
      Seq("sr", "f1", "nb", "f2b"),
      keep = shiftRule(maxTrim, tolHz)(col, c => col(c + "_d")), distinct = distinct)
  }
}
