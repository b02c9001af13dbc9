package graft

/** Plan-shape regression guards for the scale fixes this round landed
  * (VERDICT r02 items 2/3): the fixes are invisible to the value-level
  * oracle — only the physical plan distinguishes a broadcast OOM bomb or
  * a 10×-corpus window sort from the safe shape — so pin them here.
  *
  * AQE gotcha: the FINAL plan only exists on the queryExecution that was
  * actually executed, so each assertion materializes its own df first.
  */
class PlanShapeSpec extends SparkSpec {

  private def executedPlan(name: String): String = {
    val df = Registry.all.toMap.apply(name).fn(spark, sf001)
    df.write.format("noop").mode("overwrite").save()
    try df.queryExecution.executedPlan.toString
    finally {
      graft.core.releaseQueryCaches(spark)
      spark.catalog.clearCache()
    }
  }

  private def countOf(plan: String, op: String): Int =
    op.r.findAllMatchIn(plan).size

  test("sim_ivf_topk: centroid assignment is an aggregate, not a window") {
    val plan = executedPlan("sim_ivf_topk")
    // exactly ONE window remains — the per-probe top-k; the assignment
    // argmax must be a partial+final aggregate pair
    assert(countOf(plan, "Window ") + countOf(plan, "Window\\(") <= 1,
      s"assignment window crept back:\n$plan")
    assert(countOf(plan, "SortAggregate") + countOf(plan, "HashAggregate") >= 2,
      "partial+final argmax aggregate missing")
  }

  test("sim_ivf_spread: fold assignment — zero joins/windows, one cell-agg exchange") {
    // the production √N fold path (VERDICT r14 #1): the collected ring
    // rides the task binary as a literal, so the corpus pass must plan
    // NO join of any kind and NO window; the only exchange is the final
    // O(√N)-row groupBy(cid) partial+final aggregate.
    val plan = executedPlan("sim_ivf_spread")
    assert(countOf(plan, "Join") === 0,
      s"fold assignment must not plan a join:\n$plan")
    assert(countOf(plan, "Window ") + countOf(plan, "Window\\(") === 0,
      s"fold assignment must not plan a window:\n$plan")
    assert(countOf(plan, "Exchange hashpartitioning") <= 1,
      s"only the final cell aggregate may exchange:\n$plan")
    assert(countOf(plan, "SortAggregate") + countOf(plan, "HashAggregate") >= 2,
      "partial+final cell aggregate missing")
  }

  test("dedup_semantic_spread: fold assignment, cid-keyed pair join, zero windows") {
    // the production-ring SemDeDup lane (VERDICT r15 #1): assignment is
    // the collected-ring fold (NO join, NO window, NO exchange before
    // the cell stage); the only joins are the cid-keyed within-cell
    // pair join and the vec_id drop rejoin — never a nested-loop over
    // the corpus, never a window.
    val plan = executedPlan("dedup_semantic_spread")
    assert(countOf(plan, "Window ") + countOf(plan, "Window\\(") === 0,
      s"spread SemDeDup must not plan a window:\n$plan")
    assert(countOf(plan, "BroadcastNestedLoopJoin") === 0,
      s"no nested-loop join may touch the corpus:\n$plan")
    assert(countOf(plan, "SortAggregate") + countOf(plan, "HashAggregate") >= 2,
      "partial+final cell census aggregate missing")
  }

  test("sim_ivf_nprobe: assignment is an aggregate; only bounded per-probe windows") {
    val plan = executedPlan("sim_ivf_nprobe")
    // two windows max — the 10×10 probe-cell rank and the per-probe top-k;
    // both partition by probe. The corpus-side assignment stays a
    // partial+final max_by aggregate.
    assert(countOf(plan, "Window ") + countOf(plan, "Window\\(") <= 2,
      s"assignment window crept back:\n$plan")
    assert(countOf(plan, "SortAggregate") + countOf(plan, "HashAggregate") >= 2,
      "partial+final argmax aggregate missing")
    assert(countOf(plan, "SortMergeJoin") === 0,
      "corpus must never sort-merge against bounded probe/centroid relations")
  }

  test("dedup_paragraphs: digests shuffle, text never does") {
    val plan = executedPlan("dedup_paragraphs")
    val readSchemas = "ReadSchema: [^\\n]*".r.findAllIn(plan).toSeq
    assert(readSchemas.nonEmpty, s"no ReadSchema in plan:\n$plan")
    assert(countOf(plan, "Window ") + countOf(plan, "Window\\(") === 0,
      s"canonical-owner choice must be a min(struct) aggregate, not a window:\n$plan")
    assert(countOf(plan, "SortMergeJoin") === 0,
      "the per-lang totals must broadcast-join the kept counts")
  }

  test("dedup_minhash_verified: candidate joins stay shuffled, never broadcast") {
    val plan = executedPlan("dedup_minhash_verified")
    // the two pinned verification joins (candidates ⋈ shingle sets)
    assert(countOf(plan, "ShuffledHashJoin") >= 2,
      s"verification joins lost their shuffle-hash pin:\n$plan")
  }

  test("agg_event_funnel: two exchanges, no window, no sort before the aggs") {
    val plan = executedPlan("agg_event_funnel")
    assert(countOf(plan, "Window") === 0, "funnel must not use windows")
    assert(countOf(plan, "HashAggregate") >= 4, "two partial+final agg pairs")
  }

  test("sample_stratified: the documents scan prunes the text column") {
    // the keep decision touches only doc_id + source: a scan that drags
    // the (dominant) text column through the pipeline reads the whole
    // corpus to sample it — column pruning IS the scale property here
    val plan = executedPlan("sample_stratified")
    val readSchemas = "ReadSchema: [^\\n]*".r.findAllIn(plan).toSeq
    assert(readSchemas.nonEmpty, s"no ReadSchema in plan:\n$plan")
    assert(readSchemas.forall(!_.contains("text")),
      s"text column not pruned from the sampling scan:\n${readSchemas.mkString("\n")}")
  }

  test("text_quality_filter: thresholds broadcast; the scored corpus never shuffle-joins") {
    val plan = executedPlan("text_quality_filter")
    assert(countOf(plan, "BroadcastHashJoin") >= 1,
      s"per-lang threshold join must broadcast the O(#langs) side:\n$plan")
    assert(countOf(plan, "SortMergeJoin") === 0,
      "scored corpus must not sort-merge against 5 threshold rows")
  }

  test("dedup_incremental: verification joins stay shuffled; no candidate broadcast") {
    val plan = executedPlan("dedup_incremental")
    assert(countOf(plan, "ShuffledHashJoin") >= 2,
      s"delta-side verification joins lost their shuffle-hash pin:\n$plan")
  }

  test("text_contamination_ngram: eval grams broadcast; corpus never sort-merges") {
    val plan = executedPlan("text_contamination_ngram")
    assert(countOf(plan, "BroadcastHashJoin") >= 1,
      s"eval-gram semi join must broadcast the benchmark side:\n$plan")
    assert(countOf(plan, "SortMergeJoin") === 0,
      "corpus gram stream must not sort-merge against the eval set")
  }

  test("text_repetition_stats: map-side HOFs only — no window, join, or gram shuffle") {
    val plan = executedPlan("text_repetition_stats")
    assert(countOf(plan, "Window") === 0, "repetition stats must not use windows")
    assert(countOf(plan, "Join") === 0, "word-level stats must ride the doc rows, not join back")
    assert(countOf(plan, "Exchange hashpartitioning") === 0,
      s"per-doc run-length stats must not shuffle grams:\n$plan")
  }

  test("sim_kmeans_iterate: assignments are aggregates, centroids broadcast, no window") {
    val plan = executedPlan("sim_kmeans_iterate")
    assert(countOf(plan, "Window ") + countOf(plan, "Window\\(") === 0,
      s"assignment argmax must be a max_by aggregate, not a window:\n$plan")
    assert(countOf(plan, "BroadcastNestedLoopJoin") + countOf(plan, "BroadcastHashJoin") >= 2,
      "both assignment passes must broadcast the centroid relation")
    assert(countOf(plan, "SortMergeJoin") === 0,
      "the corpus must never sort-merge against K centroid rows")
  }

  test("text_tfidf_top: probe tf and doc counts broadcast into the df aggregate") {
    val plan = executedPlan("text_tfidf_top")
    assert(countOf(plan, "BroadcastHashJoin") >= 2,
      s"tf and ndocs must broadcast; the vocabulary side streams:\n$plan")
    assert(countOf(plan, "SortMergeJoin") === 0,
      "the corpus-wide df relation must not sort-merge against bounded probe relations")
  }

  test("join_dict_get: the dictionary broadcast builds once and is reused") {
    // exchange reuse only materializes in AQE's FINAL plan, which exists
    // only on the queryExecution that was actually executed — collect
    // THIS df (a noop write plans a separate execution, skill gotcha)
    val df = Registry.all.toMap.apply("join_dict_get").fn(spark, sf001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    graft.core.releaseQueryCaches(spark)
    spark.catalog.clearCache()
    // two enrichment joins, ONE dictionary materialization: the second
    // consumer must reuse the first broadcast build — a second
    // BroadcastExchange of the dict means Catalyst stopped deduplicating
    // the identical subplans
    assert(countOf(plan, "BroadcastHashJoin") >= 2,
      s"both fact enrichments must broadcast-join the dict:\n$plan")
    // strict reuse evidence: an explicit ReusedExchange node, or the SAME
    // AQE broadcast stage id consumed at two different points of the plan
    val stageIds = "BroadcastQueryStage[ -]?(\\d+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    val reused = countOf(plan, "ReusedExchange") >= 1 ||
      stageIds.size > stageIds.distinct.size
    assert(reused,
      s"dict must build once and be reused (stages=$stageIds):\n$plan")
  }

  test("pipeline_curation_e2e: one feature pass, text never leaves it, no sort-merge") {
    val df = Registry.all.toMap.apply("pipeline_curation_e2e").fn(spark, sf001)
    df.write.format("noop").mode("overwrite").save()
    val plan = try df.queryExecution.executedPlan.toString
    finally () // caches released at the end of the test
    // the corpus text is consumed entirely inside the persisted feature
    // pass: the optimized plan OUTSIDE the cached relation (collect does
    // not descend into InMemoryRelation.cachedPlan) must never reference
    // the text column — a reference there means a stage re-tokenized
    // instead of reusing the feature relation
    val leaked = df.queryExecution.optimizedPlan.collect {
      case p if p.expressions.exists(_.references.exists(_.name == "text")) => p.nodeName
    }
    assert(leaked.isEmpty, s"text column leaked past the feature pass: $leaked")
    assert(countOf(plan, "SortMergeJoin") === 0,
      "stage joins must stay shuffled-hash or broadcast — never a corpus sort")
    assert(countOf(plan, "BroadcastHashJoin") >= 2,
      s"eval grams and per-lang thresholds must broadcast:\n$plan")
    // exactly one window: the quota rank over threshold-prefiltered rows
    assert(countOf(plan, "Window ") + countOf(plan, "Window\\(") <= 1,
      "only the sample-stage quota rank may be a window")
    graft.core.releaseQueryCaches(spark)
    spark.catalog.clearCache()
  }

  test("pipeline_incremental_e2e: delta-bounded, text never leaves the feature pass") {
    val df = Registry.all.toMap.apply("pipeline_incremental_e2e").fn(spark, sf001)
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    val leaked = df.queryExecution.optimizedPlan.collect {
      case p if p.expressions.exists(_.references.exists(_.name == "text")) => p.nodeName
    }
    graft.core.releaseQueryCaches(spark)
    spark.catalog.clearCache()
    assert(leaked.isEmpty, s"text column leaked past the feature pass: $leaked")
    assert(countOf(plan, "SortMergeJoin") === 0,
      "delta-vs-corpus joins must stay shuffled-hash or broadcast")
    assert(countOf(plan, "Window ") + countOf(plan, "Window\\(") === 0,
      "the incremental funnel needs no window at all")
  }

  test("no declared query plans an unpartitioned window (repo-wide pin)") {
    // A Window with an empty partitionSpec funnels the whole relation
    // through ONE task — the last scale-killer VERDICT r06 flagged
    // (win_ntile, since re-expressed as range-partitioned parallel ranks).
    // Checked on the optimized logical plan (no execution needed), and —
    // because persist() hides the upstream plan behind an
    // InMemoryRelation whose subtree is already physical — also on every
    // cached physical fragment.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.window.WindowExec
    Registry.all.foreach { case (name, qd) =>
      val plan = qd.fn(spark, sf001).queryExecution.optimizedPlan
      val bad = plan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => s"logical:${w.windowExpressions}"
        case r: InMemoryRelation =>
          r.cachedPlan.collect {
            case we: WindowExec if we.partitionSpec.isEmpty => s"cached:${we.windowExpression}"
          }.mkString(";")
      }.filter(_.nonEmpty)
      assert(bad.isEmpty, s"$name plans a single-partition window: ${bad.mkString(", ")}")
      spark.catalog.clearCache()
    }
  }

  test("sample_lang_balanced: threshold broadcasts back; one bounded window") {
    val plan = executedPlan("sample_lang_balanced")
    assert(countOf(plan, "BroadcastHashJoin") >= 1,
      s"per-lang threshold must broadcast over the corpus:\n$plan")
    assert(countOf(plan, "Window ") + countOf(plan, "Window\\(") <= 1,
      "only the post-prefilter quota rank may be a window")
    assert(countOf(plan, "SortMergeJoin") === 0,
      "corpus must not sort-merge against the O(#langs) relations")
  }

  test("sim_quantize_int8: map-only — folds ride the scan, no shuffle before the sort") {
    val plan = executedPlan("sim_quantize_int8")
    assert(countOf(plan, "Window") === 0, "quantization must not use windows")
    assert(countOf(plan, "Join") === 0, "per-vector quantization must not join")
    assert(countOf(plan, "Exchange hashpartitioning") === 0,
      s"quantize/MSE folds must stay map-side:\n$plan")
  }

  test("agg_variance_stats: moments are one partial+final aggregate — no window, no join") {
    val plan = executedPlan("agg_variance_stats")
    assert(countOf(plan, "Window") === 0, "variance must come from moments, not a window")
    assert(countOf(plan, "Join") === 0, "no second pass over the data")
    assert(countOf(plan, "HashAggregate") + countOf(plan, "SortAggregate") >= 2,
      s"partial+final moment aggregate missing:\n$plan")
  }

  test("join_skew_salted: the salt mechanism survives planning — dim explodes, join on (key, salt)") {
    val plan = executedPlan("join_skew_salted")
    // the dim replication is one Generate (explode of the salt sequence)
    assert(countOf(plan, "Generate") >= 1,
      s"salt replication optimized away — the declared query must run the salted plan:\n$plan")
    // the join key is widened to (custkey, __salt): the hot-key split
    assert(plan.contains("__salt"),
      s"join no longer keys on the salt column:\n$plan")
  }

  test("text_winnowing: fingerprinting is map-only — no join, window, or shuffle") {
    val plan = executedPlan("text_winnowing")
    assert(countOf(plan, "Join") === 0, "winnowing must not join")
    assert(countOf(plan, "Window") === 0, "winnowing must not use windows")
    assert(countOf(plan, "Exchange hashpartitioning") === 0,
      s"per-doc winnowing must not shuffle:\n$plan")
  }

  test("dedup_winnowing_pairs: fingerprints shuffle, text never does; cap is not a window") {
    val plan = executedPlan("dedup_winnowing_pairs")
    assert(countOf(plan, "Window ") + countOf(plan, "Window\\(") === 0,
      s"the hot-fingerprint cap must stay an aggregate + broadcast anti-join:\n$plan")
    val readSchemas = "ReadSchema: [^\\n]*".r.findAllIn(plan).toSeq
    assert(readSchemas.nonEmpty && readSchemas.forall(!_.contains("lang")),
      "the documents scan must prune to (doc_id, text)")
  }

  test("dedup_substring: no window; inverted index is an aggregate; text never shuffles") {
    val plan = executedPlan("dedup_substring")
    assert(countOf(plan, "Window ") + countOf(plan, "Window\\(") === 0,
      s"run lengths must fold in a per-doc HOF aggregate, not a window:\n$plan")
    // shared-digest bit is a min/max partial+final aggregate — no
    // count-distinct expand and no digest self-join
    assert(countOf(plan, "Expand") === 0,
      s"shared bit must be min<>max, not count(distinct):\n$plan")
    val readSchemas = "ReadSchema: [^\\n]*".r.findAllIn(plan).toSeq
    assert(readSchemas.nonEmpty && readSchemas.forall(!_.contains("lang")),
      "the documents scan must prune to (doc_id, text)")
  }

  test("text_quality_classifier: scoring is map-only — weights live in the expression") {
    val plan = executedPlan("text_quality_classifier")
    assert(countOf(plan, "Join") === 0,
      s"the weight vector must be a literal in the scoring expression, not a join:\n$plan")
    assert(countOf(plan, "Window ") + countOf(plan, "Window\\(") === 0, "no windows")
    // one shuffle total: the per-source partial+final aggregate
    assert(countOf(plan, "Exchange hashpartitioning") <= 1,
      s"scoring must not shuffle before the summary agg:\n$plan")
    assert(plan.contains("graft_dot"),
      s"scoring must ride the codegen DotProductD expression:\n$plan")
  }

  test("dedup_semantic: assignment is an aggregate; pairs stay cell-local; no windows") {
    val plan = executedPlan("dedup_semantic")
    assert(countOf(plan, "Window ") + countOf(plan, "Window\\(") === 0,
      s"centroid assignment must be a max_by aggregate, not a window:\n$plan")
    assert(countOf(plan, "SortAggregate") + countOf(plan, "HashAggregate") >= 2,
      "partial+final argmax aggregate missing")
    assert(countOf(plan, "CartesianProduct") === 0,
      s"the within-cell pair join must key on cid, never cross:\n$plan")
  }

  test("sample_temperature: no window over the corpus; thresholds broadcast back") {
    val plan = executedPlan("sample_temperature")
    assert(countOf(plan, "Window ") + countOf(plan, "Window\\(") === 0,
      s"rate-based sampling must not rank the corpus:\n$plan")
    assert(countOf(plan, "BroadcastHashJoin") >= 1,
      s"per-lang thresholds must broadcast to the corpus side:\n$plan")
    assert(countOf(plan, "SortMergeJoin") === 0,
      "the corpus must never sort-merge against the O(|langs|) rate relation")
  }

  test("stream_interval_join: pairs key on user_id, never cross") {
    val plan = executedPlan("stream_interval_join")
    assert(countOf(plan, "CartesianProduct") === 0,
      s"the interval is a post-join filter on a user_id equi-join, not a cross:\n$plan")
    assert(countOf(plan, "Window ") + countOf(plan, "Window\\(") === 0,
      s"no window over the corpus:\n$plan")
  }

  test("dedup_minhash_est: signature/shingle joins stay shuffled, never broadcast") {
    val plan = executedPlan("dedup_minhash_est")
    // candidate×signatures (×2) and candidate×shingle-sets (×2): all four
    // ride pinned shuffled-hash joins on doc_id — the candidate relation
    // grows with the corpus and must never become a driver broadcast
    assert(countOf(plan, "ShuffledHashJoin") >= 4,
      s"estimator joins lost their shuffle-hash pin:\n$plan")
    assert(countOf(plan, "SortMergeJoin") === 0,
      "no sort-merge against the bounded band/cap relations")
  }

  test("ann_recall_eval: probes broadcast everywhere; corpus never sort-merges") {
    val plan = executedPlan("ann_recall_eval")
    assert(countOf(plan, "SortMergeJoin") === 0,
      s"bounded probe/eval relations must never sort-merge against the corpus:\n$plan")
    // truth pass + LSH probe pass both broadcast the bounded side
    // (window discipline — only per-probe partitioned top-k ranks — is
    // covered by the repo-wide unpartitioned-window pin below; a textual
    // count here would double-bill the persisted approx subtree, which
    // prints inside every InMemoryRelation occurrence)
    assert(countOf(plan, "BroadcastHashJoin") + countOf(plan, "BroadcastNestedLoopJoin") >= 2,
      s"probe relations must broadcast over the corpus:\n$plan")
  }

  test("cdc_summing_rollup / cdc_versioned_collapse: chained aggregates, no window, no join") {
    for (q <- Seq("cdc_summing_rollup", "cdc_versioned_collapse")) {
      val plan = executedPlan(q)
      // merge-time summation / versioned collapse are partial+final agg
      // chains — map-side combine IS the engine's background merge; a
      // window or self-join here would serialize per-key history
      assert(countOf(plan, "Window ") + countOf(plan, "Window\\(") === 0,
        s"$q must not window over the change stream:\n$plan")
      assert(countOf(plan, "Join") === 0, s"$q must not join:\n$plan")
      assert(countOf(plan, "HashAggregate") + countOf(plan, "SortAggregate") >= 2,
        s"$q lost its partial+final aggregate shape:\n$plan")
    }
  }

  test("join_runtime_bloom: probe side is pruned before its exchange; Bloom is broadcast") {
    val plan = executedPlan("join_runtime_bloom")
    // the Bloom map reaches lineitem via a broadcast nested-loop (scalar
    // crossJoin of a one-row relation) — never a shuffle
    assert(countOf(plan, "BroadcastNestedLoopJoin") >= 1,
      s"Bloom map must broadcast over the probe side:\n$plan")
    assert(countOf(plan, "CartesianProduct") === 0,
      s"scalar crossJoin must plan as a broadcast, not a cartesian:\n$plan")
    // the membership filter (3 codegen bit tests on xxhash64(l_orderkey))
    // must sit BELOW the probe side's exchange: prune-then-shuffle is the
    // point
    val exIdx = plan.indexOf("Exchange hashpartitioning(l_orderkey")
    val filterIdx = plan.indexOf("xxhash64(l_orderkey")
    assert(filterIdx >= 0, s"Bloom membership filter missing:\n$plan")
    // the plan prints parents above children: a filter BELOW the probe
    // exchange appears after it in the text
    assert(exIdx < 0 || filterIdx > exIdx,
      s"Bloom filter not below the probe exchange:\n$plan")
  }

  test("dedup_jaccard_prefix: token strings never shuffle; verify joins stay shuffled-hash") {
    val plan = executedPlan("dedup_jaccard_prefix")
    // candidate pairs and token arrays re-join via pinned shuffled-hash
    // joins on doc_id (the dedup_minhash_verified pattern); the pair
    // relation grows with the corpus and must never broadcast
    assert(countOf(plan, "ShuffledHashJoin") >= 2,
      s"verify joins lost their shuffle-hash pin:\n$plan")
    assert(countOf(plan, "Window ") + countOf(plan, "Window\\(") === 0,
      s"prefix selection is array slicing, never a window:\n$plan")
    // tokens are xxhash64 longs from the first projection onward: the
    // raw `word` string must be consumed map-side (inside the hashing
    // project), never appear in any exchange's output schema
    val exchanges = "Exchange [^\\n]*".r.findAllIn(plan).toSeq
    assert(exchanges.nonEmpty, s"expected exchanges in:\n$plan")
    assert(exchanges.forall(!_.contains("word")),
      s"raw token strings leaked into a shuffle:\n${exchanges.mkString("\n")}")
  }

  test("cdc_aggregating_merge: two chained state-merge aggregates, no window, no join") {
    val plan = executedPlan("cdc_aggregating_merge")
    assert(countOf(plan, "Window ") + countOf(plan, "Window\\(") === 0,
      s"state merge must not window:\n$plan")
    assert(countOf(plan, "Join") === 0, s"state merge must not join:\n$plan")
    // per-(key, part) partials then the per-key merge — both levels
    // partial-agg-combinable, ≥4 HashAggregate nodes (2 levels × 2 phases)
    assert(countOf(plan, "HashAggregate") + countOf(plan, "SortAggregate") >= 4,
      s"lost the two-level state-merge aggregate shape:\n$plan")
  }

  test("join_asof_nearest / join_asof_forward: frames ride ONE exchange and sort") {
    for (q <- Seq("join_asof_nearest", "join_asof_forward")) {
      val plan = executedPlan(q)
      // the direction frames share partition+order: one hash exchange on
      // user_id, one sort, Window evals stacked on it — a second
      // exchange would mean the rewrite regressed to a self-join
      assert(countOf(plan, "Exchange hashpartitioning\\(user_id") === 1,
        s"$q must shuffle ONCE on user_id:\n$plan")
      assert(countOf(plan, "Join") === 0, s"$q must not self-join:\n$plan")
      val sorts = countOf(plan, "Sort \\[user_id")
      assert(sorts <= 1, s"$q frames must reuse one partition sort:\n$plan")
    }
  }

  test("graph_triangle_count: edges sampled before any self-join; joins stay shuffled") {
    val plan = executedPlan("graph_triangle_count")
    // the md5 sampling filter must gate the edge relation BEFORE the
    // wedge/closure self-joins (the 512x work reduction is the point);
    // InMemoryTableScan of the persisted edges on every join side
    assert(plan.contains("InMemoryTableScan") || plan.contains("InMemoryRelation"),
      s"sampled edge relation must be persisted and reused:\n$plan")
    // wedge + closure joins key on node ids — never a cartesian; the only
    // nested-loop join is the final single-row-x-single-row count stitch
    assert(countOf(plan, "CartesianProduct") === 0,
      s"triangle joins must never go cartesian:\n$plan")
    assert(countOf(plan, "Window ") + countOf(plan, "Window\\(") === 0,
      s"triangle counting must not window:\n$plan")
  }

  test("sim_pq_adc: codebook and LUT broadcast; encoding is an aggregate, not a window") {
    val plan = executedPlan("sim_pq_adc")
    // the probe's full vector must never meet the corpus: candidates see
    // only the 200-row (probe, m, code) -> partial-distance LUT, and both
    // the codebook join (encoding) and the LUT join are broadcasts
    assert(countOf(plan, "BroadcastHashJoin") >= 2,
      s"codebook/LUT must broadcast over the corpus:\n$plan")
    assert(countOf(plan, "CartesianProduct") === 0,
      s"no cartesian anywhere in the ADC pipeline:\n$plan")
    assert(countOf(plan, "Exchange SinglePartition") === 0,
      s"no global window allowed:\n$plan")
    // corpus encoding is the min_by aggregate (sim_pq_codes shape);
    // SortAggregate appears because min_by orders on a struct key
    assert(countOf(plan, "HashAggregate") + countOf(plan, "SortAggregate") >= 2,
      s"encoding lost its aggregate shape:\n$plan")
  }

  test("agg_time_fill: corpus work is one aggregate; the fill join is never cartesian") {
    val plan = executedPlan("agg_time_fill")
    assert(countOf(plan, "Window ") + countOf(plan, "Window\\(") === 0,
      s"gap filling must not window:\n$plan")
    assert(countOf(plan, "CartesianProduct") === 0,
      s"calendar join must key on day, never cross:\n$plan")
    // day-count aggregate keeps its partial+final (map-side combine) shape
    assert(countOf(plan, "HashAggregate") >= 2,
      s"day counts lost their partial+final shape:\n$plan")
  }

  test("agg_weighted_median: windows run over the pre-aggregated bounded relation") {
    val plan = executedPlan("agg_weighted_median")
    // the per-(type, value) weight aggregate must exist BELOW the windows —
    // its exchange partitions on BOTH keys; windowing the raw corpus
    // would show only the 5-way event_type exchange
    assert(countOf(plan, "Exchange hashpartitioning\\(event_type[^,)]*, value") >= 1,
      s"lost the pre-aggregation that bounds the window input:\n$plan")
    assert(countOf(plan, "Exchange SinglePartition") === 0,
      s"no global window allowed:\n$plan")
  }

  test("win_cume_dist: both window functions share the per-user partition") {
    val plan = executedPlan("win_cume_dist")
    assert(countOf(plan, "Exchange hashpartitioning\\(user_id") === 1,
      s"cume_dist/nth_value must shuffle ONCE on user_id:\n$plan")
    assert(countOf(plan, "Exchange SinglePartition") === 0,
      s"no global window allowed:\n$plan")
  }

  test("text_bpe_pair_counts: map-side explode + one combinable count — no join, no window") {
    val plan = executedPlan("text_bpe_pair_counts")
    assert(countOf(plan, "Join") === 0, s"pair counting must not join:\n$plan")
    assert(countOf(plan, "Window ") + countOf(plan, "Window\\(") === 0,
      s"pair counting must not window:\n$plan")
    // the only exchange carries (pair, partial count) — the raw text
    // column must never reach a shuffle
    val exchanges = "Exchange [^\\n]*".r.findAllIn(plan).toSeq
    assert(exchanges.forall(!_.contains("text")),
      s"document text leaked into a shuffle:\n${exchanges.mkString("\n")}")
    assert(countOf(plan, "Generate explode") >= 2,
      s"words and pairs must explode map-side:\n$plan")
  }

  test("agg_approx_percentile: corpus work is two aggregates; windows only over the bounded histogram") {
    val plan = executedPlan("agg_approx_percentile")
    // the stats pre-pass and the histogram are both partial+final
    // aggregates (map-side combine keeps the shuffle bounded); the only
    // window is the cumulative sum over the <= |types|*256 histogram
    assert(countOf(plan, "HashAggregate") + countOf(plan, "SortAggregate") >= 4,
      s"stats/histogram lost their partial+final shape:\n$plan")
    assert(countOf(plan, "Window ") + countOf(plan, "Window\\(") <= 1,
      s"a second window crept in:\n$plan")
    assert(countOf(plan, "Exchange SinglePartition") === 0,
      s"no global window allowed:\n$plan")
    assert(countOf(plan, "CartesianProduct") === 0, s"no cartesian:\n$plan")
  }

  test("sketch_topk: rank windows run per lane over the post-aggregate vocab, never the corpus") {
    val plan = executedPlan("sketch_topk")
    // word counts must combine map-side BEFORE the lane-rank window: the
    // window's input is the (lane, word, count) aggregate, so an
    // Exchange on (lane, w) or the count aggregate must sit below it
    assert(countOf(plan, "HashAggregate") >= 2,
      s"per-word counts lost their partial+final shape:\n$plan")
    assert(countOf(plan, "Window ") + countOf(plan, "Window\\(") <= 1,
      s"only the per-lane rank window is allowed:\n$plan")
    // the final top-20 is a TakeOrdered over <= 40 candidates, never a
    // global sort exchange
    assert(countOf(plan, "TakeOrderedAndProject") >= 1,
      s"global top-k lost its TakeOrdered shape:\n$plan")
    val exchanges = "Exchange [^\\n]*".r.findAllIn(plan).toSeq
    assert(exchanges.forall(!_.contains("text")),
      s"document text leaked into a shuffle:\n${exchanges.mkString("\n")}")
  }

  test("cdc_graphite_rollup: two chained aggregates, no window, max-day broadcasts") {
    val plan = executedPlan("cdc_graphite_rollup")
    assert(countOf(plan, "Window ") + countOf(plan, "Window\\(") === 0,
      s"tiering must not window:\n$plan")
    // raw-granularity partial+final, then tier-bucket partial+final
    assert(countOf(plan, "HashAggregate") >= 4,
      s"the chained aggregate pair lost its shape:\n$plan")
    assert(countOf(plan, "CartesianProduct") === 0,
      s"the max-day scalar must broadcast-join, never cartesian:\n$plan")
  }

  test("win_range_frame: one per-user exchange, no time self-join") {
    val plan = executedPlan("win_range_frame")
    assert(countOf(plan, "Exchange hashpartitioning\\(user_id") === 1,
      s"the RANGE frame must ride ONE user_id shuffle:\n$plan")
    assert(countOf(plan, "Join") === 0,
      s"time-window sums must not self-join:\n$plan")
    assert(countOf(plan, "Exchange SinglePartition") === 0,
      s"no global window allowed:\n$plan")
  }

  test("agg_delta_sum: one series exchange feeds the lag window, then bounded aggs") {
    val plan = executedPlan("agg_delta_sum")
    assert(countOf(plan, "Exchange hashpartitioning\\(user_id[^,)]*, event_type") === 1,
      s"the lag window must ride ONE (user, type) shuffle:\n$plan")
    assert(countOf(plan, "Join") === 0, s"deltas must not self-join:\n$plan")
    assert(countOf(plan, "HashAggregate") + countOf(plan, "SortAggregate") >= 2,
      s"per-type sums lost their partial+final shape:\n$plan")
  }

  test("multimodal_dedup_phash: asset bytes never shuffle; cap is a broadcast semi-join") {
    val plan = executedPlan("multimodal_dedup_phash")
    // fingerprints are computed map-side; every exchange carries only
    // (asset_id, fp, band, bucket) narrow rows — the binary payload and
    // the feature arrays must never cross a shuffle
    val exchanges = "Exchange [^\\n]*".r.findAllIn(plan).toSeq
    assert(exchanges.forall(e => !e.contains("bytes") && !e.contains("features")),
      s"media payload leaked into a shuffle:\n${exchanges.mkString("\n")}")
    assert(countOf(plan, "CartesianProduct") === 0,
      s"bucket-mate pairing must key on (band, bucket):\n$plan")
    assert(countOf(plan, "BroadcastHashJoin") >= 1,
      s"the hot-bucket cap must be a broadcast semi-join:\n$plan")
  }

  test("graph_pagerank: persisted graph reused across iterations; ranks never broadcast") {
    val plan = executedPlan("graph_pagerank")
    // the three scopedPersisted relations (edges, deg, edgesDeg) must
    // materialize once each and feed every unrolled iteration — their
    // scans are distinguished by output column signature (a cached
    // subtree reprints per consumer, so occurrence counts overstate)
    val imtsSigs = "InMemoryTableScan \\[[^\\]]*\\]".r.findAllIn(plan).toSet
    assert(imtsSigs.size >= 3,
      s"persisted graph relations missing — iterations rebuild the graph:\n$plan")
    // all six per-iteration joins (3x edgesDeg jo ranks, 3x deg jo contrib)
    // stay shuffle-side: the rank relation is node-count-sized and must
    // NEVER broadcast (unbounded at real scale)
    assert(countOf(plan, "SortMergeJoin") + countOf(plan, "ShuffledHashJoin") >= 6,
      s"a rank-iteration join left the shuffle path:\n$plan")
    // (a total-broadcast count is NOT pinnable here: the cached subtrees
    // print their AQE-final plans, where tiny-SF size stats legitimately
    // convert build-side joins to broadcasts — the >= 6 shuffle-join pin
    // above is what proves the planner never chose to broadcast ranks)
    assert(countOf(plan, "CartesianProduct") === 0, s"no cartesian:\n$plan")
    assert(countOf(plan, "Window ") + countOf(plan, "Window\\(") === 0,
      s"pagerank must not window:\n$plan")
  }

  test("sim_ann_rerank: everything small broadcasts; exact re-rank never shuffles the corpus") {
    val plan = executedPlan("sim_ann_rerank")
    // codebook, probe-cell map, LUT, shortlist, and probe vectors all
    // broadcast — the corpus side streams past each of them
    assert(countOf(plan, "BroadcastHashJoin") >= 3,
      s"ADC/rerank joins must broadcast over the corpus:\n$plan")
    assert(countOf(plan, "CartesianProduct") === 0,
      s"no cartesian anywhere in the pipeline:\n$plan")
    assert(countOf(plan, "Exchange SinglePartition") === 0,
      s"no global window allowed:\n$plan")
    // IVF assignment + PQ encoding stay partial+final aggregates
    assert(countOf(plan, "HashAggregate") + countOf(plan, "SortAggregate") >= 2,
      s"assignment/encoding lost their aggregate shape:\n$plan")
    // exactly three windows — probe-cell rank, ADC shortlist top-R, and
    // the exact re-rank top-3 — each partitioned by probe over a
    // probe-bounded relation
    assert(countOf(plan, "Window ") + countOf(plan, "Window\\(") <= 3,
      s"a corpus-sized window crept in:\n$plan")
  }

  test("join_interval_overlap: bucketing turns the range join into an equi-join") {
    val plan = executedPlan("join_interval_overlap")
    assert(countOf(plan, "CartesianProduct") === 0, s"cartesian crept in:\n$plan")
    assert(countOf(plan, "BroadcastNestedLoopJoin") === 0,
      s"theta join survived — the bucket equi-key is not being used:\n$plan")
    assert(countOf(plan, "Exchange SinglePartition") === 0,
      s"no global ordering step belongs here:\n$plan")
  }

  test("sim_knn_classify: probes broadcast; the corpus is never sort-merged") {
    val plan = executedPlan("sim_knn_classify")
    assert(countOf(plan, "SortMergeJoin") === 0,
      s"corpus must stream past broadcast probes:\n$plan")
    assert(countOf(plan, "CartesianProduct") === 0, s"cartesian crept in:\n$plan")
    // two windows max — per-probe top-k and the vote rank, both
    // partitioned by probe over probe-bounded relations
    assert(countOf(plan, "Window ") + countOf(plan, "Window\\(") <= 2,
      s"a corpus-sized window crept in:\n$plan")
  }

  test("agg_bitmap_ops: pair intersection shuffles on user; totals broadcast") {
    val plan = executedPlan("agg_bitmap_ops")
    assert(countOf(plan, "CartesianProduct") === 0
      && countOf(plan, "BroadcastNestedLoopJoin") === 0,
      s"the pair join must be an equi-join on user_id:\n$plan")
    assert(countOf(plan, "BroadcastHashJoin") >= 2,
      s"per-type totals must broadcast back, not shuffle:\n$plan")
    assert(countOf(plan, "Window ") + countOf(plan, "Window\\(") === 0,
      s"no window belongs in the bitmap algebra:\n$plan")
  }

  test("cdc_minmax_prune / agg_skew_kurt / agg_linreg: pure partial+final aggregates") {
    Seq("cdc_minmax_prune", "agg_skew_kurt", "agg_linreg").foreach { name =>
      val plan = executedPlan(name)
      assert(countOf(plan, "Window ") + countOf(plan, "Window\\(") === 0,
        s"$name must not window:\n$plan")
      assert(countOf(plan, "SortMergeJoin") + countOf(plan, "CartesianProduct") === 0,
        s"$name must not join the corpus:\n$plan")
      assert(countOf(plan, "HashAggregate") + countOf(plan, "SortAggregate") >= 2,
        s"$name lost its partial+final aggregate shape:\n$plan")
    }
  }

  test("graph_community_lpa: labels ride co-partitioned equi-joins, never broadcast") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val df = Registry.all.toMap.apply("graph_community_lpa").fn(spark, sf001)
    df.write.format("noop").mode("overwrite").save()
    try {
      val plan = df.queryExecution.executedPlan.toString
      assert(countOf(plan, "CartesianProduct") === 0
        && countOf(plan, "BroadcastNestedLoopJoin") === 0,
        s"vote joins must stay equi-joins:\n$plan")
      // NOTE: at sf0.001 Catalyst may legitimately broadcast the tiny label
      // relation (size-based choice, flips to shuffle join from stats at
      // scale) — the pin is on JOIN KIND (equi), not on the exchange side.

      // each round's label relation has two consumers (the neighbor join
      // and the self-vote). It must be materialized once and read by both,
      // whether as a persist (InMemoryTableScan) or a checkpoint (Scan
      // ExistingRDD); otherwise every round recomputes its predecessor
      // once per consumer.
      assert(plan.contains("InMemoryTableScan") || plan.contains("Scan ExistingRDD"),
        s"per-round label materialization lost:\n$plan")
      val logical = df.queryExecution.optimizedPlan
      val labelReads = logical.collect {
        case r: LogicalRDD if r.output.exists(_.name == "label") => s"rdd:${r.rdd.id}"
        case m: InMemoryRelation if m.output.exists(_.name == "label") =>
          s"cache:${System.identityHashCode(m.cacheBuilder)}"
      }
      assert(labelReads.size >= 2 && labelReads.distinct.size === 1,
        s"the last round's label relation must be one materialization read " +
          s"by both consumers, got $labelReads:\n$logical")
      // a materialized relation hides its build, so the only label-build
      // subtree left in the plan is the final round's (its rank window);
      // a recomputed round would repeat its build once per consumer
      val windows = logical.collect { case w: LWindow => w }.size
      assert(windows === 1,
        s"label build appears $windows times, not once:\n$logical")
    } finally {
      graft.core.releaseQueryCaches(spark)
      spark.catalog.clearCache()
    }
  }

  test("scan_zorder_layout: per-row interleave + one bounded aggregate") {
    val plan = executedPlan("scan_zorder_layout")
    assert(countOf(plan, "Window ") + countOf(plan, "Window\\(") === 0,
      s"no window belongs in a layout audit:\n$plan")
    assert(countOf(plan, "SortMergeJoin") + countOf(plan, "CartesianProduct") === 0,
      s"no join belongs here:\n$plan")
    assert(countOf(plan, "HashAggregate") >= 2,
      s"partial+final audit aggregate missing:\n$plan")
  }

  test("win_running_distinct: both window passes share one user exchange") {
    val plan = executedPlan("win_running_distinct")
    // flag window partitions by (user, type), run/pos by (user) — the
    // (user, type) pass is a sort within the (user) partitioning, so at
    // most two hash exchanges total may touch the corpus (scan side),
    // and no single-partition exchange may exist
    assert(countOf(plan, "Exchange SinglePartition") === 0,
      s"global ordering crept in:\n$plan")
    assert(countOf(plan, "CartesianProduct") + countOf(plan, "SortMergeJoin") === 0,
      s"no join belongs here:\n$plan")
  }

  test("agg_uniq_upto: the capped aggregate keeps partial+final shape") {
    val plan = executedPlan("agg_uniq_upto")
    assert(plan.contains("graft_uniq_upto"),
      s"custom aggregate missing from the plan:\n$plan")
    assert(countOf(plan, "ObjectHashAggregate") + countOf(plan, "SortAggregate") >= 2,
      s"typed aggregate must run partial+final (map-side combine):\n$plan")
    assert(countOf(plan, "Window ") + countOf(plan, "Window\\(") === 0,
      s"no window belongs here:\n$plan")
  }

  test("dedup_lsh_tuning: one signature pass, equi band join, broadcast cap") {
    val plan = executedPlan("dedup_lsh_tuning")
    assert(countOf(plan, "CartesianProduct") === 0
      && countOf(plan, "BroadcastNestedLoopJoin") === 0,
      s"the band join must stay an equi-join on the band key:\n$plan")
    // the persisted band relation feeds both join sides and the cap —
    // without the cache scan the shingle/minhash pass runs per branch
    assert(plan.contains("InMemoryTableScan"),
      s"band-relation persist lost:\n$plan")
  }

  test("cdc_compaction_plan: metadata-only planning after one corpus agg") {
    val plan = executedPlan("cdc_compaction_plan")
    assert(countOf(plan, "SortMergeJoin") + countOf(plan, "CartesianProduct") === 0,
      s"no join belongs in a compaction plan:\n$plan")
    assert(countOf(plan, "Window ") + countOf(plan, "Window\\(") <= 1,
      s"only the per-type running sum may window:\n$plan")
    assert(countOf(plan, "Exchange SinglePartition") === 0,
      s"the plan must never order the corpus globally:\n$plan")
  }

  test("multimodal vad/scenes: per-asset windows only, no corpus ordering") {
    Seq("multimodal_audio_vad", "multimodal_video_scenes").foreach { name =>
      val plan = executedPlan(name)
      assert(countOf(plan, "Exchange SinglePartition") === 0,
        s"$name must not globally sort (TakeOrdered handles the head):\n$plan")
      assert(countOf(plan, "CartesianProduct") === 0, s"$name: cartesian:\n$plan")
    }
  }

  test("sample_domain_reweight / agg_time_to_convert: bounded joins, no corpus window") {
    Seq("sample_domain_reweight", "agg_time_to_convert").foreach { name =>
      val plan = executedPlan(name)
      assert(countOf(plan, "Window ") + countOf(plan, "Window\\(") === 0,
        s"$name must not window the corpus:\n$plan")
      // reweight's crosses are counts×tot and weighted×ess — scalar or
      // ≤|langs|-row sides by construction (the cached weighted relation
      // reprints its internal cross at each consumer, so a text count
      // over-reports); the binding pin is that the CORPUS side never
      // sort-merges against anything
      assert(countOf(plan, "SortMergeJoin") === 0,
        s"$name: corpus must not sort-merge:\n$plan")
    }
  }

  test("agg_max_intersections / stream_hourly_topk: one bounded window each") {
    Seq("agg_max_intersections" -> 1, "stream_hourly_topk" -> 1).foreach {
      case (name, maxW) =>
        val plan = executedPlan(name)
        assert(countOf(plan, "Window ") + countOf(plan, "Window\\(") <= maxW,
          s"$name grew an extra window:\n$plan")
        assert(countOf(plan, "Exchange SinglePartition") === 0,
          s"$name must never order the corpus globally:\n$plan")
    }
  }

  test("sim_graph_hnsw: descent never sort-merges or globally orders the corpus") {
    val plan = executedPlan("sim_graph_hnsw")
    assert(countOf(plan, "SortMergeJoin") === 0,
      s"corpus must never sort-merge against probe/beam relations:\n$plan")
    assert(countOf(plan, "CartesianProduct") === 0,
      s"only broadcast crosses against the bounded centroid ring:\n$plan")
    // TakeOrdered handles the final display sort; nothing else may
    // funnel the corpus into one partition
    assert(countOf(plan, "Exchange SinglePartition") === 0,
      s"descent must not order the corpus globally:\n$plan")
  }

  test("parameterized ring build: spread-ring assignment is MAP-SIDE, cell join shuffled-hash (VERDICT r13 #1)") {
    // the √N production ring ships the collected ring as one literal
    // and argmaxes it per row inside codegen: the edge build's ONLY
    // exchanges are the cell-local self-join's (plus its degree-rank
    // window) — no crossJoin, no assignment aggregate, no broadcast at
    // all. A merge join would sort every cell group; SpreadRing keys
    // are ~√N-ary, not dim-ary, so shuffled-hash stays pinned.
    import graft.operators.SimilarityQueries
    val df = SimilarityQueries.graphAnnEdges(spark, sf001,
      SimilarityQueries.SpreadRing(22L))
    df.write.format("noop").mode("overwrite").save()
    val plan =
      try df.queryExecution.executedPlan.toString
      finally {
        graft.core.releaseQueryCaches(spark)
        spark.catalog.clearCache()
      }
    assert(countOf(plan, "CartesianProduct") + countOf(plan, "BroadcastNestedLoopJoin") === 0,
      s"spread-ring assignment must not cross-join the corpus:\n$plan")
    assert(countOf(plan, "SortAggregate") + countOf(plan, "HashAggregate") === 0,
      s"spread-ring assignment is a per-row fold — no aggregate anywhere in the edge build:\n$plan")
    assert(countOf(plan, "Window ") + countOf(plan, "Window\\(") <= 1,
      s"only the per-src degree rank may window:\n$plan")
    assert(countOf(plan, "SortMergeJoin") === 0,
      s"cell-local kNN must not sort-merge:\n$plan")
    assert(countOf(plan, "ShuffledHashJoin") >= 1,
      s"cell-local kNN self-join must stay shuffled-hash:\n$plan")
  }

  test("no unbounded relation carries a broadcast hint anywhere in the declared surface") {
    // The repo-wide force-broadcast audit, pinned (VERDICT r11 item 2).
    // Every broadcast() hint in the declared surface must sit on a
    // relation that is bounded BY CONSTRUCTION — an aggregate (grouped
    // on a bounded key or reduced to a scalar), a dim-table scan
    // (region/nation/part/supplier/customer at dim cardinality), or a
    // literal range. A hint on a raw fact scan or on a grouping keyed by
    // an unbounded attribute (user_id, doc_id, event_id) is a driver-OOM
    // at 100 TB even when AQE would have chosen correctly unhinted —
    // cdc_truncate_frontier carried exactly that shape until r12.
    // The pin: walk every declared logical plan; wherever a broadcast
    // join hint survives analysis, the hinted side's subtree must
    // contain an Aggregate or only dim/range leaves — never a bare
    // fact relation.
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val facts = Set("lineitem", "orders", "events", "documents", "embeddings")
    def leafIsFact(p: LogicalPlan): Boolean = p.collectLeaves().exists {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.exists(rp => facts.exists(rp.toString.contains))
        case _ => false
      }
      case other => facts.exists(other.toString.toLowerCase.contains)
    }
    // Grouping by one of these keys does NOT bound a relation — their
    // cardinality scales with the corpus (this was cdc_truncate_frontier's
    // r11 shape: groupBy(user_id) under a broadcast hint).
    val unboundedKeys =
      Set("user_id", "doc_id", "event_id", "o_orderkey", "l_orderkey", "emb_id")
    def boundedAggregate(p: LogicalPlan): Boolean =
      p.collectFirst { case a: Aggregate => a }.exists { a =>
        !a.groupingExpressions.exists(_.references.exists(r =>
          unboundedKeys.contains(r.name.toLowerCase)))
      }
    // A literal comparison on an id column (`vec_id < 10`, `doc_id < 20`)
    // bounds the relation at ANY corpus scale — ids below a constant are
    // a constant-sized set. This is the declared probe/centroid contract
    // of the similarity family. A modulo/fraction filter does NOT bound
    // and does not match this shape.
    import org.apache.spark.sql.catalyst.expressions._
    def literalIdBound(p: LogicalPlan): Boolean = {
      def idAttr(e: Expression): Boolean = e match {
        case a: Attribute =>
          val n = a.name.toLowerCase; n == "id" || n.endsWith("_id")
        case _ => false
      }
      def bounds(c: Expression): Boolean = c match {
        case And(l, r) => bounds(l) || bounds(r)
        case LessThan(a, _: Literal) if idAttr(a) => true
        case LessThanOrEqual(a, _: Literal) if idAttr(a) => true
        case GreaterThan(_: Literal, a) if idAttr(a) => true
        case GreaterThanOrEqual(_: Literal, a) if idAttr(a) => true
        case EqualTo(a, _: Literal) if idAttr(a) => true
        case EqualTo(_: Literal, a) if idAttr(a) => true
        case In(a, vs) if idAttr(a) && vs.forall(_.isInstanceOf[Literal]) => true
        case _ => false
      }
      p.collectFirst {
        case Filter(cond, _) if bounds(cond) => ()
        case _: GlobalLimit => ()
      }.isDefined
    }
    // The √N-ring membership predicate (hash(vec_id) % k == 0 — md5-60bit
    // or xxhash64 form) bounds its relation at ~N/k = ~√N rows: the
    // similarity family's DECLARED ring carrier, broadcast by contract
    // (~25 MB at a 10¹⁰-vector corpus — the same bytes the fold path
    // ships per executor as an sc.broadcast past graft.ring.broadcastBytes).
    // Only the ring shape qualifies: a remainder-of-hash-of-id comparison
    // to a literal; a plain fraction/modulo on a raw column still flags.
    def ringPredicateBound(p: LogicalPlan): Boolean = {
      def hashOfId(e: Expression): Boolean = e.collectFirst {
        case m: Md5 if m.references.exists(_.name.toLowerCase.endsWith("_id")) => ()
        case x: XxHash64 if x.references.exists(_.name.toLowerCase.endsWith("_id")) => ()
      }.isDefined
      def isRing(c: Expression): Boolean = c match {
        case EqualTo(Remainder(h, _: Literal, _), Literal(v, _)) =>
          hashOfId(h) && String.valueOf(v) == "0"
        case EqualTo(Pmod(h, _: Literal, _), Literal(v, _)) =>
          hashOfId(h) && String.valueOf(v) == "0"
        case And(l, r) => isRing(l) || isRing(r)
        case _ => false
      }
      p.collectFirst { case Filter(cond, _) if isRing(cond) => () }.isDefined
    }
    // A scopedPersist()'d probe relation optimizes to an InMemoryRelation
    // leaf whose bounding filter lives inside the cached physical plan —
    // recognize the pushed/compiled literal-id filter there.
    def cachedBound(p: LogicalPlan): Boolean = p.collectLeaves().exists {
      case imr: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        val s = imr.cachedPlan.toString
        "(?i)(LessThan(OrEqual)?|EqualTo)\\(`?\\w*id`?,\\s*-?\\d+\\)".r
          .findFirstIn(s).isDefined ||
          "(?i)\\w*id#\\d+L?\\s*<=?\\s*-?\\d+".r.findFirstIn(s).isDefined
      case _ => false
    }
    // Join.hint is populated by EliminateResolvedHint in the OPTIMIZER —
    // the analyzed plan still carries broadcast() as a ResolvedHint node
    // with JoinHint.NONE on the join, so the walk must use optimizedPlan.
    val offenders = Registry.all.flatMap { case (name, qd) =>
      val plan = qd.fn(spark, sf001).queryExecution.optimizedPlan
      plan.collect {
        case j: Join =>
          val sides = Seq(
            (j.hint.leftHint, j.left), (j.hint.rightHint, j.right)).collect {
            case (Some(h), side) if h.strategy.exists(
              _.toString.toUpperCase.contains("BROADCAST")) => side
          }
          sides.collect {
            case side if leafIsFact(side) && !boundedAggregate(side) &&
                !literalIdBound(side) && !cachedBound(side) &&
                !ringPredicateBound(side) =>
              s"$name: broadcast hint on unbounded fact subtree:\n$side"
          }
      }.flatten
    }
    graft.core.releaseQueryCaches(spark)
    spark.catalog.clearCache()
    assert(offenders.isEmpty, offenders.mkString("\n\n"))
  }
}
