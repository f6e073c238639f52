package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape pins: the scale properties the queries were
  * designed around, asserted so a refactor can't silently regress
  * them (e.g. a broadcast join degrading to sort-merge, a group
  * top-k losing its map-side WindowGroupLimit prune, or a range join
  * degenerating into a nested loop over all pairs).
  */
class PlanShapeSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("group top-k queries prune map-side (WindowGroupLimit)") {
    for (q <- Seq("q54_window_dedup", "q89_tfidf_topk"))
      assert(plan(q).contains("WindowGroupLimit"), s"$q lost its group-limit prune")
  }

  test("stratified sample is a bounded top-k aggregate, not a stratum window") {
    // low-cardinality stratum key ⇒ a window sort would funnel each
    // source through one reducer; the TopKPairsAgg state is O(k) and
    // merges map-side below the exchange
    val p = plan("q88_stratified_sample")
    assert(!p.contains("Window"), "q88 regressed to a per-source window sort")
    val firstExchange = p.indexOf("Exchange")
    assert(p.indexOf("ObjectHashAggregate") >= 0 && firstExchange >= 0)
    assert(p.lastIndexOf("ObjectHashAggregate") > firstExchange,
      "no partial top-k aggregation below the exchange")
  }

  test("exact group percentiles ride the value histogram, not a group buffer") {
    // percentile() over a ~5-value group key buffers every row of the
    // group in one ObjectHashAggregate buffer — the histogram form
    // must keep the plan in plain hash aggregates
    val p = plan("q108_interarrival")
    assert(!p.toLowerCase.contains("percentile"), "q108 regressed to buffered percentile")
    assert(!p.contains("ObjectHashAggregate"), "q108 has an object-buffer aggregate")
  }

  test("winsorize bounds ride the value histogram, not a series buffer") {
    // the bounds come from a (key, milli-value) count histogram —
    // never a percentile().over(whole-series) ObjectAggregation
    // buffer that grows with series length
    val p = plan("q190_winsorize")
    assert(!p.toLowerCase.contains("percentile"), "q190 regressed to buffered percentile")
    assert(!p.contains("ObjectHashAggregate"), "q190 has an object-buffer aggregate")
  }

  test("per-source percent_rank reads a broadcast histogram, not a stratum window") {
    val p = plan("q107_quality_rank")
    assert(p.contains("BroadcastHashJoin"), "q107 lost the broadcast rank join")
    assert(!p.contains("percent_rank"), "q107 regressed to a per-source window rank")
  }

  test("global top-k is TakeOrderedAndProject, not a full sort") {
    assert(plan("q03_top_customers").contains("TakeOrderedAndProject"))
  }

  test("dimension joins broadcast") {
    val p = plan("q02_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("interval join is a hash join on the series key, never BNLJ") {
    val p = plan("q32_interval_join")
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("exact dedup shuffles the md5 of the text, not the text") {
    assert(plan("q40_exact_dedup").contains("md5"))
  }

  test("KMV sketch aggregates partially before the exchange") {
    // partial ObjectHashAggregate below the first Exchange = the
    // bounded sketch state merges map-side
    val p = plan("q84_kmv_distinct")
    val firstAgg = p.indexOf("ObjectHashAggregate")
    val firstExchange = p.indexOf("Exchange")
    assert(firstAgg >= 0 && firstExchange >= 0)
    assert(p.lastIndexOf("ObjectHashAggregate") > firstExchange,
      "no partial sketch aggregation below the exchange")
  }

  test("LSH skew guard tags hot keys by broadcast, never a whole-table window") {
    // the hot/cold split must come from a broadcast of the (few) hot
    // keys — a count().over(keys) window here shuffles every keyed row
    // and cost q42/q43 2.4-3.2x at sf0.1 (round 3). Every Exact-mode
    // BoundedPairs site carries the tag: LSH bands, SimHash buckets,
    // fuzzy-name blocks.
    for (q <- Seq("q42_lsh_pairs", "q63_simhash_neardup", "q195_fuzzy_match")) {
      val p = plan(q)
      assert(!p.contains("RunningWindowFunction") && !p.contains("Window "),
        s"$q: keyed table must not be window-tagged")
      assert(p.linesIterator.exists(l => l.contains("BroadcastHashJoin") && l.contains("LeftOuter")),
        s"$q: hot-key tag must be a broadcast join\n$p")
    }
  }

  test("bloom probe broadcasts the positions set, never the corpus") {
    val p = plan("q94_bloom_contamination")
    assert(p.contains("BroadcastHashJoin"), "positions join must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("chunk dedup never FORCES a broadcast of the frequency table") {
    // the chunk-frequency relation is corpus-sized: a broadcast HINT
    // here would OOM the driver at scale. (The planner may still
    // broadcast at toy SF from size stats — that's its call, made
    // per-run from actual sizes; the pin is that we don't force it.)
    val lp = SparkEntry.queries("q93_chunk_dedup")(spark, dir)
      .queryExecution.analyzed.toString
    assert(!lp.contains("UnresolvedHint") && !lp.contains("ResolvedHint"),
      "q93 must not hint the frequency join")
  }

  test("mixture sampling broadcasts the per-source rate table") {
    assert(plan("q96_mixture_sample").contains("BroadcastHashJoin"))
  }

  test("repeated-span census is one aggregate, no self-join") {
    val p = plan("q100_repeated_spans")
    assert(!p.contains("Join"), s"q100 must not join:\n$p")
    // the shuffle must carry fixed-width digests, never the exploded
    // span strings (~10x corpus bytes at scale)
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty && !exchanges.exists(_.contains("span#")),
      s"q100 exchange must not carry span strings:\n${exchanges.mkString("\n")}")
  }

  test("nested-loop joins appear ONLY as intended tiny-side crossJoins") {
    // every BroadcastNestedLoopJoin in the suite must be one of the
    // known bounded crossJoins (1-row totals, K-row centroid/query
    // tables); a new BNLJ anywhere else is an all-pairs scale bug
    val allowed = Set("q45_cosine_topk", "q72_heatmap_matrix", "q89_tfidf_topk",
      "q91_quantized_topk", "q95_surprisal_bits",
      "q116_unk_mask", // 1-row max-count broadcast onto the vocab
      "q126_zorder_layout", // 1-row global (min,max) bounds broadcast
      "q137_kmv_set_algebra", // n_sources-row sketch-pair theta self-join
      "q143_split_drift", // 1-row split-totals broadcast
      "q150_collocation_lift", // 1-row bigram-total broadcast onto the vocab
      "q163_domain_xent", // |sources|-row model-totals broadcast onto the vocab
      "q165_ann_recall", // composes q45's 10-row broadcast theta join
      "q166_rfm_segments", // 1-row "now" scalar broadcast
      "q169_tfidf_docsim", // 1-row corpus-total broadcast onto the vocab
      "q176_decayed_ltv", // 1-row "now" scalar broadcast
      "q170_power_iteration", // 1-row 64-value vector broadcast per iteration
      "q193_isotonic_cal", // ≤11-row band-histogram interval theta joins (PAVA min-max)
      "q199_welch_ttest", // |event_type|-row moment-relation pair self-join
      "q203_quantile_normalize", // bounded pooled-histogram broadcast bracket joins
      "q217_mixture_waterfill", // 1-row budget + 1-row fill-level broadcasts
      "q227_bm25_topk", // 1-row corpus-total + 1-row avgdl broadcasts
      "q232_dsir_weights", // q95's 1-row vocab-totals broadcast (t_all, t_tgt, nv)
      "q235_pq_adc_topk", // 1-row query-vector broadcast (ADC re-score)
      "q242_ivfadc_recall", // q45-shaped 10-row broadcast theta join (exact side)
      "q243_manifest_delta", // 1-row cut boundary + 1-row base-token-total broadcasts
      "q244_sampled_triangles", // 1-row edge census × 1-row sampled-triangle total
      "q246_residual_recall", // q242's exact-side 10-row broadcast theta join
      "q247_hybrid_triangles", // 1-row tau/census broadcasts (q244's combine shape)
      "q248_trained_coarse_recall") // exact-side 10-row broadcast theta join (q45 shape)
    val offenders = SparkEntry.allQueries
      .filterNot(q => q.name.contains("stream")) // streaming plans need a sink
      .filterNot(q => allowed.contains(q.name))
      .filter { q =>
        // builder persists register CacheManager entries as the walk
        // progresses, and a LATER query sharing a persisted subtree
        // gets it substituted as an InMemoryRelation — which would
        // HIDE a BNLJ (or window) inside the cached fragment and make
        // this guard order-dependent. Every query must be judged on
        // its own uncached plan.
        spark.catalog.clearCache()
        try plan(q.name).contains("BroadcastNestedLoopJoin")
        catch { case _: Throwable => false }
        finally spark.experimental.extraOptimizations = Nil // q123/q124 scope
      }
    assert(offenders.isEmpty,
      s"unexpected BNLJ in: ${offenders.map(_.name).mkString(", ")}")
  }

  test("global windows appear ONLY over bounded aggregated relations") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // A Window with an EMPTY partitionSpec funnels its whole input
    // through ONE partition — at 100 TB that is a single-reducer
    // bottleneck unless the input is already aggregated down to a
    // relation bounded by a value domain / calendar / K, never by
    // corpus row count. This generalizes the q81 check suite-wide
    // (the BNLJ guard's sibling): every allowed global window names
    // its bounded relation; a NEW one anywhere else fails.
    // (the kmeans/PQ seed inits are now driver-collected bounded
    // folds — the GlobalLimit(K) row_number windows they carried are
    // gone from q105/q234/q235/q238/q241/q242/q246/q248/q249 entirely)
    val allowed = Map(
      "q78_mixture_report" -> "per-source mixture rollup (|sources| rows)",
      "q96_mixture_sample" -> ("weight normalization over the per-source rate " +
        "table (|sources| rows; beneath the rates persist — visible since the " +
        "cached-plan walk)"),
      "q81_token_shards" -> "two-phase prefix sum's block-totals relation (|blocks| rows)",
      "q131_cross_corr" -> "calendar-bounded hourly grid (a decade is 87k rows)",
      "q151_dedup_saturation" -> "per-bucket saturation curve (|buckets| rows)",
      "q188_rrf_fusion" -> "score-domain value histograms (q107 trick), broadcast back",
      "q189_chi_square" -> "(source x lang) contingency table (domain-bounded)",
      "q193_isotonic_cal" -> "<=11-row confidence-band histogram (PAVA input)",
      "q203_quantile_normalize" -> "pooled milli-value histogram (value-domain-bounded)",
      "q204_ece" -> "<=11-row confidence-band histogram rollup",
      "q205_assoc_rules" -> "(from_type x to_type) transition matrix (domain-bounded)",
      "q210_zipf_fit" -> "rank axis over the aggregated vocabulary histogram",
      "q217_mixture_waterfill" -> "per-source water-filling table (|sources| rows)",
      "q222_cluster_sizes" -> "cluster-SIZE census histogram (|distinct sizes| rows)",
      "q225_fold_stability" -> "K-row per-fold moment relation",
      "q229_oov_curve" -> "frequency-of-frequency histogram (one row per distinct count value)",
      "q237_shard_manifest" -> "q81's block-totals prefix relation (|blocks| rows)",
      "q243_manifest_delta" -> "q81's block-totals prefix relation, base + delta sides")
    // a query's OWN eager persists (e.g. q237/q243's pinned shard
    // assignment) substitute their subtree as InMemoryRelation inside
    // the optimized plan — walk the cached physical plans too, so a
    // global window can neither hide under a persist nor go stale in
    // the allowlist unnoticed
    def physGlobals(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      p.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => true
        case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          physGlobals(s.relation.cachedPlan)
        // AQE wraps cached plans (and, once materialized, finished
        // stages); collect does not descend into either wrapper's
        // plan on its own
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          physGlobals(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          physGlobals(s.plan)
      }.exists(identity)
    def globals(name: String): Boolean = {
      // uncached plan per query — an earlier query's persisted subtree
      // (e.g. q248's trained codebook, which CONTAINS the seed's
      // global window) would otherwise substitute as InMemoryRelation
      // and hide the window from this collect (order-dependent guard)
      spark.catalog.clearCache()
      try {
        val opt = SparkEntry.queries(name)(spark, dir).queryExecution.optimizedPlan
        val direct =
          opt.collectFirst { case w: LWindow if w.partitionSpec.isEmpty => w }.nonEmpty
        def cached = opt.collect {
          case m: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
            physGlobals(m.cachedPlan)
        }.exists(identity)
        direct || cached
      }
      catch { case _: Throwable => false }
      finally spark.experimental.extraOptimizations = Nil
    }
    val offenders = SparkEntry.allQueries
      .filterNot(_.name.contains("stream")) // streaming plans need a sink
      .filterNot(q => allowed.contains(q.name))
      .filter(q => globals(q.name))
    assert(offenders.isEmpty,
      s"unexpected GLOBAL window in: ${offenders.map(_.name).mkString(", ")}")
    // keep the allowlist honest: every entry must still carry one
    val stale = allowed.keys.filterNot(globals)
    assert(stale.isEmpty, s"allowlist entries without a global window: ${stale.mkString(", ")}")
  }

  test("IVFADC scores only probed lists: list-key equi-join sits below the ADC aggregate") {
    // q238/q241's whole point vs q235: the ADC (q_id, vec_id) sum must
    // see only probed-list candidates, i.e. its subtree must contain
    // the list_id equi-join, and none of the joins may be a nested loop
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    // The recall audits score ONCE at nprobe = max with the probe
    // rank carried; arms come from an explode over the np ≥ pr
    // prefixes + one (np, q_id) window — so each scored relation
    // contributes exactly ONE ADC aggregate to the plan by
    // construction (r9's union-of-filtered-arms form carried 3 copies
    // per relation and leaned on ReuseExchange to dedup them at
    // runtime). q242's exact side is the allow-listed q45-shaped
    // theta join, so the no-BNLJ clause applies to the first two
    // queries only. Expected ADC-aggregate copies and distinct
    // canonical forms per query: q246/q248 carry TWO scored relations
    // (raw + residual), one aggregate each.
    val shape = Map(
      "q238_ivfadc_topk" -> (1, 1), "q241_residual_ivfadc" -> (1, 1),
      "q242_ivfadc_recall" -> (1, 1), "q246_residual_recall" -> (2, 2),
      "q248_trained_coarse_recall" -> (2, 2))
    for ((name, (expected, expectedCanon)) <- shape) {
      spark.catalog.clearCache() // uncached plan — see the BNLJ guard note
      val lp = SparkEntry.queries(name)(spark, dir)
        .queryExecution.optimizedPlan
      val adcAggs = lp.collect {
        case a: Aggregate if a.groupingExpressions.size == 2 &&
          a.groupingExpressions.flatMap(_.references.map(_.name)).toSet ==
            Set("q_id", "vec_id") => a
      }
      assert(adcAggs.size == expected,
        s"$name: expected $expected ADC (q_id, vec_id) aggregate(s), found ${adcAggs.size}")
      if (expected > 1) {
        // the one-scan guarantee's PRECONDITION: arm aggregates over
        // the same scored relation must canonicalize identically,
        // which is what both static ReuseExchange (AQE off — the
        // bench session) and AQE's runtime stage cache key on. If an
        // arm ever filters BELOW the aggregate again, its canonical
        // form diverges and this catches it without executing.
        val canon = adcAggs.map(_.canonicalized).distinct
        assert(canon.size == expectedCanon,
          s"$name: expected $expectedCanon distinct arm-aggregate forms, found ${canon.size} - a scoring exchange cannot be reused")
      }
      adcAggs.foreach { adcAgg =>
        val listJoins = adcAgg.collect {
          case j: Join if j.condition.exists(
            _.references.exists(_.name == "list_id")) => j
        }
        assert(listJoins.nonEmpty,
          s"$name: an ADC aggregate no longer has the probed-list equi-join below it (full-corpus ADC scan)")
      }
      if (name == "q238_ivfadc_topk" || name == "q241_residual_ivfadc")
        assert(!plan(name).contains("BroadcastNestedLoopJoin"),
          s"$name must stay all-equi-join")
    }
  }

  // NOTE: absolute-time slice pushdown (the InferScanBounds rule
  // deriving a raw `ts` bound from the derived-`t` predicate) is
  // pinned in PlanRewriteSpec.

  test("token count prunes the documents scan to the referenced columns") {
    // a 2-column projection must not read the whole documents schema
    val p = plan("q52_token_count")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("text"), s"scan line missing:\n$p")
    assert(!read.contains("source") && !read.contains("lang"),
      s"unpruned documents scan:\n$read")
  }

  test("token-shard prefix sum has no unpartitioned window over the corpus") {
    // Optimized Window nodes print as
    //   Window [exprs], [partitionKeys], [ordering]   (partitioned)
    //   Window [exprs], [ordering]                    (global)
    // — the only global one allowed is q81's tiny block-totals
    // offset window (two-phase prefix sum), never one over the docs.
    val p = SparkEntry.queries("q81_token_shards")(spark, dir)
      .queryExecution.optimizedPlan.toString
    val windows = p.linesIterator.filter(_.trim.stripPrefix("+- ").startsWith("Window ")).toSeq
    val globals = windows.filter(l => "\\], \\[".r.findAllIn(l).size == 1)
    assert(windows.size >= 2, s"expected both prefix-sum windows, got:\n${windows.mkString("\n")}")
    assert(globals.size == 1, s"expected exactly one global (block-totals) window:\n${windows.mkString("\n")}")
    assert(globals.head.contains("bt"), "the global window must be over block totals, not docs")
  }
}
