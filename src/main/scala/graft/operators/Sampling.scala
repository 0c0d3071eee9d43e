package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._

/** Dataset-curation sampling operators — the selection steps of a
  * training-data pipeline, built on DETERMINISTIC hashing rather than
  * randomness: `DataFrame.sample`/`randomSplit` are partition-order
  * dependent (a re-read, a different cluster size, or AQE re-planning
  * changes the sample), which is unacceptable for a train/test split that
  * must be reproducible and leak-free forever after. Here membership is a
  * pure function of the row's id (md5-based, oracle-portable), so:
  *
  *   - the same row lands in the same split on any cluster, any engine;
  *   - adding/removing OTHER rows never moves an existing row (stable
  *     under incremental corpus growth — the property random seeds lose);
  *   - both operators are one narrow map / one window — no extra shuffle
  *     beyond what the semantics require.
  */
object Sampling {

  /** Deterministic train/val/test assignment by id hash: bucket =
    * unsigned md5-hash(id) mod 1000, train < trainPermille <= val <
    * trainPermille + valPermille <= test. */
  def deterministicSplit(df: DataFrame, idCol: String,
                         trainPermille: Int = 800, valPermille: Int = 100,
                         splitCol: String = "split"): DataFrame = {
    require(trainPermille >= 0 && valPermille >= 0 &&
      trainPermille + valPermille <= 1000,
      s"permilles out of range: train=$trainPermille val=$valPermille")
    // hash the STRING form of the id (DuckDB md5_number_lower(VARCHAR)
    // parity for numeric ids)
    val b = portable_bucket(col(idCol).cast("string"), lit(1000))
    df.withColumn(splitCol,
      when(b < trainPermille, lit("train"))
        .when(b < trainPermille + valPermille, lit("val"))
        .otherwise(lit("test")))
  }

  /** Frequency capping (dataset-balance staple: "at most N documents per
    * domain/language/source"): keeps the `n` rows of each group that rank
    * first by (md5-hex(id), id) — a deterministic priority, so the KEPT
    * SET is stable across runs and engines, and hex-string ordering
    * matches DuckDB's unsigned comparison for the oracle. One shuffle on
    * the group key (the window), nothing else. Skewed groups cost one
    * window partition each — cap candidates per group are streamed by the
    * window operator, never collected. */
  def capPerGroup(df: DataFrame, groupCol: String, idCol: String,
                  n: Int): DataFrame = {
    require(n >= 1, s"cap must be >= 1, got $n")
    // hash the STRING form of the id (DuckDB md5(VARCHAR) parity; a raw
    // int-to-binary cast would hash different bytes than the oracle)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(md5(col(idCol).cast("string").cast("binary")), col(idCol))
    df.withColumn("_cap_rn", row_number().over(w))
      .filter(col("_cap_rn") <= n)
      .drop("_cap_rn")
  }

  /** Token-budget packing (training-mix staple: "at most N tokens per
    * language/source, not at most N documents"): keeps, per group, the
    * prefix of rows — in deterministic hash-priority order — whose
    * RUNNING token total stays within `budget`. The kept set is a pure
    * function of (ids, token counts): reproducible on any cluster and
    * stable when other groups change, like every operator here. A row
    * larger than the remaining budget is skipped and ends the prefix
    * (contiguous-prefix semantics keep the oracle exactly expressible —
    * greedy skip-and-continue would too, but as a harder SQL). One window
    * shuffle on the group key. */
  def tokenBudgetPerGroup(df: DataFrame, groupCol: String, idCol: String,
                          tokensCol: String, budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    // ROWS frame, explicitly: the default RANGE frame includes all ORDER
    // BY peers at once, so a duplicate id (peer rows) would diverge from
    // the ROWS-framed oracle SQL. Ids are unique by precondition, but the
    // contract is structural this way (ADVICE r4).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(md5(col(idCol).cast("string").cast("binary")), col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    df.withColumn("_run_tokens", sum(col(tokensCol)).over(w))
      .filter(col("_run_tokens") <= budget)
      .drop("_run_tokens")
  }

  /** Per-stratum deterministic downsampling (the rebalance staple: "keep
    * 25% of English, half of Chinese, all of the rest"): a row survives
    * iff its id-hash bucket falls under its stratum's permille. Pure
    * id-hash membership like [[deterministicSplit]] — reproducible on any
    * engine/cluster, stable under corpus growth, one narrow map with NO
    * shuffle (contrast DataFrame.sample, which is partition-order
    * dependent and un-stratified).
    *
    * The hash domain is SALTED (`id || ":strat"`) so it is independent of
    * [[deterministicSplit]]'s: sampling then splitting must not correlate
    * (with the same hash, a 250-permille sample would land entirely
    * inside the train split — a leak-shaped artifact). Strata absent from
    * `permilleByStratum` keep `defaultPermille`. */
  def stratifiedSample(df: DataFrame, stratumCol: String, idCol: String,
                       permilleByStratum: Map[String, Int],
                       defaultPermille: Int = 1000): DataFrame = {
    require((defaultPermille +: permilleByStratum.values.toSeq)
      .forall(p => p >= 0 && p <= 1000),
      s"permilles must be in [0,1000]: $permilleByStratum default=$defaultPermille")
    val b = portable_bucket(
      concat(col(idCol).cast("string"), lit(":strat")), lit(1000))
    val thr = permilleByStratum.foldLeft(lit(defaultPermille)) {
      case (acc, (k, p)) => when(col(stratumCol) === k, lit(p)).otherwise(acc)
    }
    df.filter(b < thr)
  }

  /** Training-MIX composition to exact target proportions ("make the mix
    * 40% en / 30% zh / 30% es, as large as the corpus allows"): finds the
    * LARGEST total T such that every stratum can supply its share, takes
    * exactly floor(w_s * T / 1000) rows per stratum by deterministic
    * hash priority. Weights are integer PERMILLE so the feasibility
    * arithmetic (T = min_s floor(n_s * 1000 / w_s)) is integer-exact on
    * any engine — the oracle (t15) restates the whole computation,
    * quotas included, in SQL. Strata not in `weightsPermille` are
    * dropped (weight 0). Fully declarative: counts aggregate + broadcast
    * quota join + one window shuffle — no driver-side collect, so the
    * stratum count can be millions (domains, not just languages). */
  def mixToProportions(df: DataFrame, stratumCol: String, idCol: String,
                       weightsPermille: Map[String, Int]): DataFrame = {
    require(weightsPermille.nonEmpty && weightsPermille.values.forall(_ > 0),
      s"weights must be positive permille: $weightsPermille")
    val spark = df.sparkSession
    import spark.implicits._
    val weights = weightsPermille.toSeq.toDF(stratumCol, "_w")
    val quota = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("_n"))
      .join(weights, stratumCol) // inner: unweighted strata drop out
      .withColumn("_t", expr("_n * 1000 DIV _w"))
    val tMin = quota.agg(min(col("_t")).as("_tmin"))
    val keeps = quota.crossJoin(broadcast(tMin))
      .withColumn("_keep", expr("_w * _tmin DIV 1000"))
      .select(col(stratumCol), col("_keep"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol))
      .orderBy(md5(col(idCol).cast("string").cast("binary")), col(idCol))
    df.join(broadcast(keeps), stratumCol)
      .withColumn("_mix_rn", row_number().over(w))
      .filter(col("_mix_rn") <= col("_keep"))
      .drop("_mix_rn", "_keep")
  }

  /** Sequence PACKING (the pretraining-batch staple): concatenate each
    * group's documents — in deterministic hash order — into one token
    * stream and chunk it into fixed `seqLen` training sequences,
    * emitting one row per (document, sequence) slice: a document whose
    * tokens straddle a boundary appears once per sequence it touches,
    * with `doc_start` / `slice_len` describing the cut. This is the
    * GPT-style pack-then-split layout (no padding, no truncation loss).
    *
    * Deterministic by construction: the stream order is (md5-hex(id),
    * id), so the packing is reproducible on any cluster and the oracle
    * (t13) restates every slice with window arithmetic. One window
    * shuffle on the group key; the running offset is an exclusive-frame
    * sum, the slice explosion is `sequence()` over the touched sequence
    * ids. Offsets use integral DIV (not double division — exact at
    * 10^12-token stream lengths). Groups pack independently (the
    * distributed shape: one stream per shard/language, not one global
    * single-task window). Rows with tokens <= 0 are dropped. */
  def packSequences(df: DataFrame, groupCol: String, idCol: String,
                    tokensCol: String, seqLen: Int): DataFrame = {
    require(seqLen >= 1, s"seqLen must be >= 1, got $seqLen")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(md5(col(idCol).cast("string").cast("binary")), col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.filter(col(tokensCol) > 0)
      .withColumn("_before",
        coalesce(sum(col(tokensCol).cast("long")).over(w), lit(0L)))
      .withColumn("seq_id", explode(sequence(
        expr(s"_before DIV $seqLen"),
        expr(s"(_before + $tokensCol - 1) DIV $seqLen"))))
      .select(col(groupCol), col(idCol),
        col("seq_id"),
        greatest(lit(0L), col("seq_id") * seqLen - col("_before"))
          .as("doc_start"),
        (least(col(tokensCol).cast("long"),
          (col("seq_id") + 1) * seqLen - col("_before")) -
          greatest(lit(0L), col("seq_id") * seqLen - col("_before")))
          .as("slice_len"))
  }

  /** Skew-safe frequency capping: identical output to [[capPerGroup]],
    * built for corpora where one group holds a huge share of the rows (a
    * single window partition would serialize it onto one task). Two-phase
    * salting:
    *
    *   1. cap within (group, salt) where salt = hash(id) mod `salts` —
    *      spreads a hot group over `salts` parallel window partitions.
    *      Any row in the group's TRUE top-n is also top-n within its own
    *      salt subset (a subset can only rank it higher), so phase 1
    *      keeps a superset of the answer, at most salts*n rows per group.
    *   2. re-cap the survivors per group — a window over <= salts*n rows
    *      per group, bounded regardless of corpus skew.
    *
    * The salt is the same deterministic id hash as the priority ordering's
    * family (portable_bucket), so the kept set stays engine-reproducible
    * and is oracle-checked equal to the single-window form (t7). */
  def capPerGroupSalted(df: DataFrame, groupCol: String, idCol: String,
                        n: Int, salts: Int = 32): DataFrame = {
    require(n >= 1, s"cap must be >= 1, got $n")
    require(salts >= 1, s"salts must be >= 1, got $salts")
    val prio = md5(col(idCol).cast("string").cast("binary"))
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol),
        portable_bucket(col(idCol).cast("string"), lit(salts)))
      .orderBy(prio, col(idCol))
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(prio, col(idCol))
    df.withColumn("_cap_rn1", row_number().over(w1))
      .filter(col("_cap_rn1") <= n)
      .withColumn("_cap_rn2", row_number().over(w2))
      .filter(col("_cap_rn2") <= n)
      .drop("_cap_rn1", "_cap_rn2")
  }
}
