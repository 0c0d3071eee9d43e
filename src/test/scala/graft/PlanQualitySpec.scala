package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan quality gates: these queries must keep their scan
  * pushdowns, column pruning, broadcast joins and whole-stage codegen at
  * any scale — a regression here is a 100 TB incident, not a style issue. */
class PlanQualitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val sf = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  private def formatted(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("q1: shipdate filter is pushed to the parquet scan") {
    val f = formatted("q1_pricing_agg")
    assert(f.contains("PushedFilters") && f.contains("l_shipdate"),
      s"missing pushdown:\n$f")
  }

  test("q1: partial aggregation before the shuffle (map-side combine)") {
    val p = planOf("q1_pricing_agg")
    assert(p.contains("partial_sum") || p.contains("HashAggregate"),
      s"no partial agg:\n$p")
  }

  test("q2: dimension joins are broadcast, not shuffled") {
    val p = planOf("q2_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected SMJ:\n$p")
  }

  test("q3: top-k is TakeOrderedAndProject, not a global sort") {
    val p = planOf("q3_topk_orders")
    assert(p.contains("TakeOrderedAndProject"), s"global sort for top-k:\n$p")
  }

  test("c1: extraction reads only the columns it needs (no audio bytes)") {
    val f = formatted("c1_extract_fields")
    // ReadSchema of the clips scan must not include the fat binary column
    val readSchemas = f.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(!readSchemas.contains("bytes"), s"bytes not pruned:\n$readSchemas")
  }

  test("c7: decode expressions stay inside whole-stage codegen") {
    // AQE wraps everything in a lazy AdaptiveSparkPlan whose codegen only
    // materializes per stage at runtime — turn it off to inspect the
    // static stage code.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.queries("c7_decode_energy")(spark, sf)
      val c = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
      assert(c.contains("WholeStageCodegen"), s"no WSCG:\n${c.take(2000)}")
      // and the generated code calls our static kernels directly (no UDF)
      assert(c.contains("graft.audio.AudioCodec.rms"), "rms not inlined in codegen")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("s1: probe set is broadcast against the corpus") {
    val p = planOf("s1_knn_brute")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"knn join not broadcast:\n$p")
  }

  test("c8: policy gate is a broadcast anti-join before aggregation") {
    val p = planOf("c8_policy_gate")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"policy gate not broadcast anti:\n$p")
  }

  test("flagship entry produces rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).limit(5).count() > 0)
  }

  /** The LSH candidate joins must shuffle ids+bucket keys ONLY — at 100 TB
    * a text or vector column riding the banded exchange is `bands`x copies
    * of the corpus through one shuffle. Payloads are rehydrated by id
    * AFTER the candidate pair set is distinct. */
  private def candidateJoinCarriesOnly(name: String, keyHint: String,
                                       forbidden: Set[String]): Unit = {
    val plan = SparkEntry.queries(name)(spark, sf).queryExecution.optimizedPlan
    val joins = plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
        if j.condition.exists(_.references.exists(_.name == keyHint)) => j
    }
    assert(joins.nonEmpty, s"$name: no candidate join on $keyHint found:\n$plan")
    joins.foreach { j =>
      val below = j.children.flatMap(_.output).map(_.name).toSet
      val bad = below.intersect(forbidden)
      assert(bad.isEmpty,
        s"$name: $bad ride the $keyHint candidate shuffle: $below")
    }
  }

  /** All physical plans a query executes: the top-level one plus the
    * cached plans of any InMemoryRelation it references (the near-dup
    * operators persist their candidate pair set as a stage boundary —
    * gates must see through that cache, not stop at its leaf).
    * AdaptiveSparkPlanExec is a LEAF node (collect cannot traverse into
    * it), so every plan is unwrapped to its current physical plan first —
    * without this the exchange checks pass vacuously on any AQE query. */
  private def unwrapAqe(p: org.apache.spark.sql.execution.SparkPlan): org.apache.spark.sql.execution.SparkPlan =
    p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        unwrapAqe(a.executedPlan)
      case other => other
    }

  /** Every node of a physical plan, descending through the LEAF wrappers
    * tree traversal stops at: AdaptiveSparkPlanExec (current plan) and
    * materialized QueryStageExec (once a cached/adaptive plan EXECUTES,
    * its operators hide inside stage wrappers — a plain collect() then
    * sees nothing, so gates would silently pass or spuriously fail
    * depending on which test ran first). */
  private def allNodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
    p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allNodes(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        q +: allNodes(q.plan)
      case other => other +: other.children.flatMap(allNodes)
    }

  /** Like [[allNodes]] but descending THROUGH cache boundaries
    * (InMemoryTableScan -> relation.cachedPlan): the r7 one-pass
    * hydration persists the semi-join-reduced payload slice, so the
    * reduction the binary-shuffle gates look for lives inside a cached
    * subplan below the exchange. Used ONLY by those per-exchange
    * reduction searches — kernel-site counters keep [[allNodes]] /
    * [[allPlanNodes]], which visit each cached plan exactly once. */
  private def allNodesThroughCache(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
    p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allNodesThroughCache(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        q +: allNodesThroughCache(q.plan)
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        s +: allNodesThroughCache(unwrapAqe(s.relation.cachedPlan))
      case other => other +: other.children.flatMap(allNodesThroughCache)
    }

  private def allPhysicalPlans(
      qe: org.apache.spark.sql.execution.QueryExecution): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val cached = qe.optimizedPlan.collect {
      case im: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        unwrapAqe(im.cachedPlan)
    }.distinct
    unwrapAqe(qe.executedPlan) +: cached
  }

  /** All nodes across the top plan and cached subplans. */
  private def allPlanNodes(
      qe: org.apache.spark.sql.execution.QueryExecution): Seq[org.apache.spark.sql.execution.SparkPlan] =
    allPhysicalPlans(qe).flatMap(allNodes)

  /** The r4 audio near-dup shape: candidate generation is a groupBy bucket
    * (collect_list per LSH bucket), not a self-join. Assert the bucket
    * aggregation exists on the key and that NO shuffle exchange anywhere —
    * including inside the persisted candidate stage — carries the
    * forbidden payload columns. */
  private def candidateBucketCarriesOnly(name: String, keyHint: String,
                                         forbidden: Set[String]): Unit =
    candidateBucketCarriesOnlyDf(SparkEntry.queries(name)(spark, sf), name,
      keyHint, forbidden)

  private def candidateBucketCarriesOnlyDf(df: org.apache.spark.sql.DataFrame,
                                           name: String, keyHint: String,
                                           forbidden: Set[String]): Unit = {
    val qe = df.queryExecution
    val nodes = allPlanNodes(qe)
    val aggs = nodes.collect {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
        if a.groupingExpressions.exists(_.references.exists(_.name == keyHint)) => a
    }
    assert(aggs.nonEmpty,
      s"$name: no candidate bucket aggregation on $keyHint found:\n${qe.executedPlan}")
    val exchanges = nodes.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
    exchanges.foreach { e =>
      val cols = e.child.output.map(_.name).toSet
      val bad = cols.intersect(forbidden)
      if (bad.nonEmpty) {
        // A payload column may ride a shuffle ONLY above a broadcast
        // semi-join reduction — then the shuffled rows are the
        // dup-rate-sized candidate set's, never the corpus's. A payload
        // shuffle with no reduction below it is the 100 TB incident this
        // gate exists for (the whole byte column hash-shuffled + sorted
        // to serve a tiny candidate set — filled the sandbox disk at sf1).
        val reduced = allNodesThroughCache(e.child).collect {
          case b: org.apache.spark.sql.execution.joins.BaseJoinExec
            if b.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => b
        }
        assert(reduced.nonEmpty,
          s"$name: $bad ride a shuffle with no semi-join reduction below: $cols")
      }
    }
  }

  test("s4: bulk IVF plan hints no broadcasts anywhere") {
    // The bulk variant exists precisely because the query set may be
    // corpus-sized: no join in its logical plan may carry a broadcast
    // hint (AQE may still small-table-broadcast at fixture scale — that
    // is a runtime size decision, not a plan commitment, so the gate
    // checks the hints the operator author controls).
    val qe = SparkEntry.queries("s4_knn_ivf_bulk")(spark, sf).queryExecution
    val hinted = qe.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
        if j.hint.leftHint.nonEmpty || j.hint.rightHint.nonEmpty => j
    }
    assert(hinted.isEmpty, s"bulk IVF carries broadcast hints:\n${qe.optimizedPlan}")
  }

  test("GLOBAL: no query shuffles a binary payload column un-reduced") {
    // Every query in the surface, one rule: a binary column in a shuffle
    // must be either an aggregation BUFFER (partial collect_list /
    // percentile sketches — tiny by construction) or candidate-row
    // payload sitting above a broadcast semi-join reduction. Anything
    // else is a corpus-sized byte shuffle — the class of bug that filled
    // the disk at sf1 this round.
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val qe = fn(spark, sf).queryExecution
      allPlanNodes(qe).flatMap {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
          val binCols = e.child.output.filter(a =>
            a.dataType == org.apache.spark.sql.types.BinaryType &&
              a.name != "buf").map(_.name)
          val reduced = allNodesThroughCache(e.child).collect {
            case b: org.apache.spark.sql.execution.joins.BaseJoinExec
              if b.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => b
          }
          if (binCols.nonEmpty && reduced.isEmpty) Some(s"$name: $binCols")
          else None
        case _ => None
      }
    }
    assert(offenders.isEmpty, s"un-reduced binary shuffles:\n${offenders.mkString("\n")}")
  }

  // d2/d4 default to Rehydration.Auto, which picks the DIRECT join at
  // fixture scale (payload stats far under DirectRehydrateMaxBytes) — the
  // scale-path shape gates below therefore FORCE SemiJoin, the shape Auto
  // takes on any real corpus, and a separate parity test pins the two
  // strategies to identical output.
  import graft.operators.Dedup
  private def docsDf = spark.read.parquet(s"$sf/documents.parquet")
  private def embDf = spark.read.parquet(s"$sf/embeddings.parquet")

  test("d2: no document text below the banded candidate bucket (SemiJoin shape)") {
    candidateBucketCarriesOnlyDf(
      Dedup.nearDupJaccard(docsDf, "text", "doc_id", threshold = 0.5,
        rehydration = Dedup.Rehydration.SemiJoin),
      "d2_semijoin", "bhash", Set("text", "text_a", "text_b"))
  }

  test("d4: no embedding vectors below the LSH candidate bucket (SemiJoin shape)") {
    candidateBucketCarriesOnlyDf(
      Dedup.embeddingNearDup(embDf, "embedding", "vec_id", threshold = 0.5,
        nBits = 4, rehydration = Dedup.Rehydration.SemiJoin),
      "d4_semijoin", "bucket", Set("v", "v_a", "v_b", "embedding"))
  }

  test("d2/d4: Direct and SemiJoin rehydration produce identical output") {
    import org.apache.spark.sql.functions.col
    // plant exact twins under fresh ids so the pair set is non-empty
    val docsTw = docsDf.unionByName(
      docsDf.limit(20).withColumn("doc_id", col("doc_id") + 1000000))
    val embTw = embDf.unionByName(
      embDf.limit(20).withColumn("vec_id", col("vec_id") + 1000000))
    for ((mk, keyCols) <- Seq(
        ((r: Dedup.Rehydration) => Dedup.nearDupJaccard(
          docsTw, "text", "doc_id", threshold = 0.5, rehydration = r),
          Seq("id_a", "id_b", "jaccard_x1e4")),
        ((r: Dedup.Rehydration) => Dedup.embeddingNearDup(
          embTw, "embedding", "vec_id", threshold = 0.5, nBits = 4,
          rehydration = r),
          Seq("id_a", "id_b", "cos_x1e6")))) {
      val direct = mk(Dedup.Rehydration.Direct).orderBy(keyCols.map(
        org.apache.spark.sql.functions.col): _*).collect().toSeq
      val semi = mk(Dedup.Rehydration.SemiJoin).orderBy(keyCols.map(
        org.apache.spark.sql.functions.col): _*).collect().toSeq
      assert(direct.nonEmpty, "parity test needs a non-empty pair set")
      assert(direct == semi, "Direct vs SemiJoin rehydration diverged")
    }
  }

  test("d2/d4: Auto picks Direct at fixture scale (no extra corpus scans)") {
    // Auto == the cheap one-pass plan when the payload is small: no
    // LeftSemi join anywhere (that shape belongs to the reduction), and
    // no persisted candidate stage. LSH params differ from the SemiJoin
    // tests above so the candidate sub-plan cannot alias their persisted
    // stage through the canonicalized-plan cache.
    for (df <- Seq(
        Dedup.nearDupJaccard(docsDf, "text", "doc_id", threshold = 0.5,
          bands = 8),
        Dedup.embeddingNearDup(embDf, "embedding", "vec_id",
          threshold = 0.5, nBits = 8))) {
      val semis = allPlanNodes(df.queryExecution).collect {
        case b: org.apache.spark.sql.execution.joins.BaseJoinExec
          if b.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => b
      }
      assert(semis.isEmpty, s"Auto at fixture scale kept the semi-join reduction")
      val cached = df.queryExecution.optimizedPlan.collect {
        case im: org.apache.spark.sql.execution.columnar.InMemoryRelation => im
      }
      assert(cached.isEmpty, "Auto at fixture scale kept the persisted stage")
    }
  }

  test("s2: no vectors below the ANN bucket-probe join") {
    candidateJoinCarriesOnly("s2_knn_lsh", "bucket",
      Set("qv", "cv", "embedding"))
  }

  test("c14: no audio bytes below the fingerprint bucket aggregation") {
    // the decode+DSP fingerprint reduction must happen in the scan stage;
    // only (id, sr, n, f1, f2) may ride the near-dup candidate shuffle
    // (r4: candidates come from a groupBy bucket, not a self-join — one
    // scan, no inferred-constraint kernel re-evaluation)
    candidateBucketCarriesOnly("c14_audio_neardup", "f1",
      Set("bytes", "bytes_a", "bytes_b"))
  }

  test("c15: no audio bytes below the shift-robust candidate bucket") {
    // bytes may only ride the post-distinct id-keyed rehydration joins,
    // never the (sr, f1, nb, f2b) candidate shuffle
    candidateBucketCarriesOnly("c15_audio_neardup_shift", "nb",
      Set("bytes", "bytes_a", "bytes_b", "pbytes"))
  }

  test("audio near-dup evaluates the tone-pair kernel exactly once per clip") {
    // Regression gate for the r3->r4 kernel-cost fix: the self-join form
    // ran pcm_tone_pair once per join SIDE, and its equi-keys made
    // Catalyst infer IsNotNull constraints that re-evaluated the kernel
    // a second time per row inside a Filter below each side (4x total).
    // The groupBy-bucket form must show exactly ONE pcm_tone_pair across
    // all plans the query executes — incl. inside the persisted candidate
    // stage, whose cache boundary is what keeps the verify stage's three
    // candidate references from re-running the scan.
    // Counted STRUCTURALLY, not by plan-string grep: InMemoryTableScan
    // leaves render their cached plan inline, so the same cached site
    // would string-count once per reference.
    def sites(nodes: Seq[org.apache.spark.sql.execution.SparkPlan]): Int = {
      var n = 0
      nodes.foreach {
        case _: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => ()
        case node => node.expressions.foreach(_.foreach {
          case k: graft.functions.KernelCall if k.kernel.name == "pcm_tone_pair" => n += 1
          case _ => ()
        })
      }
      n
    }
    val clips = graft.fixtures.ClipGen.readClips(spark, sf)
    for (df <- Seq(graft.operators.Dedup.audioNearDup(clips),
                   graft.operators.Dedup.audioNearDupShift(clips))) {
      val n = sites(allPlanNodes(df.queryExecution))
      assert(n == 1, s"expected 1 pcm_tone_pair evaluation site, found $n")
    }
  }

  test("c18/c19: exactly one VAD kernel site; bytes stay in the scan stage") {
    // The segmentation family is a fused single-scan design: one
    // pcm_segments (c18) / pcm_strip_silence (c19) evaluation site in
    // the whole executed plan, and the binary column must never cross a
    // shuffle (the sort exchange carries only (clip_id, ints)).
    def sites(df: org.apache.spark.sql.DataFrame,
              pred: org.apache.spark.sql.catalyst.expressions.Expression => Boolean): Int = {
      var n = 0
      allPlanNodes(df.queryExecution).foreach {
        case _: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => ()
        case node => node.expressions.foreach(_.foreach {
          case e if pred(e) => n += 1
          case _ => ()
        })
      }
      n
    }
    def isKernel(name: String)(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      e match {
        case k: graft.functions.KernelCall => k.kernel.name == name
        case _ => false
      }
    val c18 = SparkEntry.queries("c18_segments")(spark, sf)
    val c19 = SparkEntry.queries("c19_strip_silence")(spark, sf)
    // The corpus is a 2-branch Union (organic + gapped): the contract is
    // ONE kernel evaluation per row, which the optimizer may realize as a
    // single site above the Union (c18's Generate) or one site pushed
    // into EACH branch (c19's collapsed Projects) — both are the fused
    // single-pass plan; anything else (0, or >branches) is a regression.
    assert(Set(1, 2).contains(
      sites(c18, isKernel("pcm_segments"))))
    assert(Set(1, 2).contains(
      sites(c19, isKernel("pcm_strip_silence"))))
    for ((df, name) <- Seq((c18, "c18"), (c19, "c19"))) {
      val offending = allPlanNodes(df.queryExecution).collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
          if e.child.output.exists(_.dataType ==
            org.apache.spark.sql.types.BinaryType) => e
      }
      assert(offending.isEmpty, s"$name shuffles a binary column")
    }
  }

  test("c20: exactly two DSP sites (delta-only) — the corpus pays zero") {
    // The incremental operator's whole point: corpus fingerprints are
    // MATERIALIZED (checkpointed in-query, a stored table in production),
    // so the only pcm_tone_pair sites in the executed plans are the
    // DELTA's — its bucket fingerprints and the delta-internal batch
    // pass. A third site means the corpus DSP leaked back into the plan
    // (e.g. the inferred-IsNotNull key tax this query's first draft paid).
    def sites(df: org.apache.spark.sql.DataFrame): Int = {
      var n = 0
      allPlanNodes(df.queryExecution).foreach {
        case _: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => ()
        case node => node.expressions.foreach(_.foreach {
          case k: graft.functions.KernelCall if k.kernel.name == "pcm_tone_pair" => n += 1
          case _ => ()
        })
      }
      n
    }
    // At most the two DELTA-side sites (bucket fingerprints + the
    // delta-internal pass; the eager delta checkpoint can absorb one of
    // them into materialized blocks, leaving a single live site). Three
    // or more = the corpus DSP leaked back in.
    val df = SparkEntry.queries("c20_audio_neardup_inc")(spark, sf)
    val n = sites(df)
    assert(n >= 1 && n <= 2, s"expected 1-2 delta-side pcm_tone_pair sites, found $n")
  }

  test("i1: image quality scoring never shuffles image bytes") {
    val plan = SparkEntry.queries("i1_image_quality")(spark, sf)
      .queryExecution.executedPlan
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
    exchanges.foreach { e =>
      val cols = e.child.output.map(_.name)
      assert(!cols.contains("bytes"), s"image bytes reach a shuffle: $cols")
    }
  }

  test("v1: video motion stats never shuffle video bytes") {
    val plan = SparkEntry.queries("v1_video_quality")(spark, sf)
      .queryExecution.executedPlan
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
    exchanges.foreach { e =>
      val cols = e.child.output.map(_.name)
      assert(!cols.contains("bytes"), s"video bytes reach a shuffle: $cols")
    }
  }

  test("c16: quality scoring never shuffles audio bytes") {
    // pcm_quality reduces each clip in the scan stage; the only exchange
    // in the plan may be the final oracle-ordering sort of (id, verdict)
    val plan = SparkEntry.queries("c16_audio_quality")(spark, sf)
      .queryExecution.executedPlan
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
    exchanges.foreach { e =>
      val cols = e.child.output.map(_.name)
      assert(!cols.contains("bytes"), s"bytes reach a shuffle: $cols")
    }
  }
}
