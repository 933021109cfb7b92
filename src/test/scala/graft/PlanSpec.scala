package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}

/** Physical-plan quality gates (SURVEY §4, the 100 TB design contract):
  * pushdown, pruning, broadcast, top-k, partial aggregation. These are the
  * properties that decide whether a plan survives a 1000× scale-up, so they
  * are asserted, not just eyeballed.
  */
class PlanSpec extends SparkSpec {

  private def executed(name: String): String =
    run(name).queryExecution.executedPlan.toString

  test("A1: shipdate predicate and projection reach the parquet scan") {
    val plan = executed("scan_filter_project")
    assert(plan.contains("PushedFilters: ["), "no pushed filters")
    assert(plan.contains("l_shipdate"), "shipdate not in scan")
    // pruned read schema: none of the unused money columns are read
    assert(!plan.contains("l_tax"), s"l_tax should be pruned:\n$plan")
  }

  test("D8: pipe syntax desugars with full pushdown — filter reaches the scan") {
    // the dialect must cost nothing: the |> WHERE lands in PushedFilters
    // and unused money columns are pruned from the read schema
    val plan = executed("sql_pipe_syntax")
    assert(plan.contains("PushedFilters: ["), "no pushed filters")
    assert(plan.contains("l_shipdate"), "shipdate not in scan")
    assert(!plan.contains("l_tax"), "l_tax should be pruned from ReadSchema")
  }

  test("J18: kmeans assignment is map-side — no per-vector window, no corpus exchange") {
    // the argmax runs as transform/array_sort over ONE broadcast centroid
    // row; the only exchanges are the M-step component aggregation (hash)
    // and the 1-row centroid-array collect (single)
    val plan = executed("vec_kmeans_lloyd")
    assert(!plan.contains("Window"), "assignment must not use a window")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges <= 1, s"expected <=1 hash exchange, got $hashExchanges")
  }

  test("C3: star join broadcasts the dim chain, no cartesian product") {
    val plan = executed("join_multiway_star")
    assert(plan.contains("BroadcastHashJoin"), "dims should broadcast")
    assert(!plan.contains("CartesianProduct"), "no cartesian in star join")
  }

  test("G2: global top-k is TakeOrderedAndProject, not a full sort") {
    val plan = executed("limit_topk")
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("E1: hash aggregation runs partial then final (map-side combine)") {
    val plan = executed("agg_pricing_summary")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"expected partial+final HashAggregate:\n$plan")
  }

  test("J3: bounded kNN uses broadcast nested loop, never cartesian") {
    val plan = executed("vec_knn_topk")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"query side must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), "no cartesian for kNN")
  }

  test("C9: as-of join plans as window, not join") {
    val plan = executed("join_asof")
    assert(plan.contains("Window") || plan.contains("WindowGroupLimit"), plan)
    assert(!plan.contains("Join"), s"as-of must be join-free:\n$plan")
  }

  test("whole-stage codegen covers the scan-agg path of E1") {
    val df = run("agg_pricing_summary")
    df.collect() // AQE: codegen stages only visible in the final executed plan
    val plan = df.queryExecution.executedPlan.toString
    // codegen'd stages render as "*(n) Operator" in the final plan
    assert(plan.contains("isFinalPlan=true") && plan.contains("*("),
      s"codegen missing:\n$plan")
  }

  test("C9v2: custom strategy plans AsOfJoinExec with clustered+sorted children") {
    val plan = executed("join_asof_exec")
    assert(plan.contains("AsOfJoin"), s"custom operator not planned:\n$plan")
    // results agree with the window-based rewrite
    val a = run("join_asof")
    val b = run("join_asof_exec")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("F5: primary ntile path is range-partitioned — no fact-side global window") {
    // VERDICT r6 #3: the CONTRACT entry (win_ntile_pct) must carry the
    // scale plan. The closed-form path never evaluates an ntile window
    // function at all, and the only unpartitioned window runs over the
    // P-row offsets summary (bounded by partition count, not data).
    // the eager checkpoint fires at DataFrame CONSTRUCTION — capture the
    // checkpoint plans around building the query, not just collect()
    var df: org.apache.spark.sql.DataFrame = null
    val ranked = CheckpointPlans.last(spark) {
      df = run("win_ntile_pct")
      df.collect()
    }
    assert(ranked.contains("rangepartitioning") && ranked.contains("c_acctbal"),
      s"ranking stage must range-partition on the order key:\n$ranked")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("ntile("),
      s"primary path must use the closed form, not a global ntile window:\n$plan")
    // exact agreement with the textbook single-partition global-window
    // baseline (spec-only since round 7)
    val results = run("win_ntile_pct").collect()
    val global = NtileReference.ntileGlobalWindowBaseline(spark, sf).collect()
    assert(results.length == global.length)
    results.zip(global).foreach { case (a, b) => assert(a == b, s"$a vs $b") }
  }

  test("E11b: equidepth histogram sorts in >1 partition, equals global-window form") {
    val df = run("agg_histogram_equidepth")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning"),
      s"expected repartitionByRange in:\n$plan")
    // exact agreement with the legacy single-partition global-ntile form
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.orderBy(col("o_totalprice"), col("o_orderkey"))
    val legacy = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_totalprice"))
      .withColumn("decile", ntile(10).over(w))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_orders"),
        min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"))
      .orderBy(col("decile"))
      .collect()
    val twoPass = run("agg_histogram_equidepth").collect()
    assert(twoPass.length == legacy.length)
    twoPass.zip(legacy).foreach { case (a, b) => assert(a == b, s"$a vs $b") }
  }


  test("E22: weighted median's cumulative scan range-partitions (>3-way parallel)") {
    // Round 5 partitioned the running-weight window by l_returnflag - 3
    // groups, so the heavy stage's parallelism was capped at 3 on any
    // cluster. The rebased form ranks through GlobalRank's range
    // partitioner; the gate pins the rangepartitioning exchange and that
    // the ranked relation actually spreads across more partitions than
    // the group cardinality.
    // ADVICE r6 #2: assert on the QUERY's own execution, not a locally
    // re-built stand-in. The heavy stage checkpoints inside GlobalRank
    // (lineage truncation hides it from the consumer's executedPlan), so
    // the gate reads the checkpoint's own plan — the plan that actually ran.
    spark.conf.set("spark.sql.debug.maxToStringFields", "200")
    val ranked = CheckpointPlans.last(spark)(run("agg_weighted_median").collect())
    assert(ranked.nonEmpty, "query must rank through GlobalRank")
    // the range partitioner must order the full 4-column total order
    // (group, value, unique tiebreak) — the partitioning a grouped
    // window cannot produce
    val rp = "rangepartitioning\\(([^)]*)".r.findAllMatchIn(ranked).map(_.group(1)).toList
    assert(rp.exists(k => k.contains("l_returnflag") && k.contains("l_extendedprice")),
      s"range keys must span the 4-column total order, got: $rp")
    assert(!ranked.contains("windowspecdefinition(l_returnflag"),
      "cumulative window must partition on the range id, not the 3-value group key")
  }

  test("A4q: sink_partitioned_stats read-back prunes partitions") {
    val df = run("sink_partitioned_stats")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), s"no partition pruning:\n$plan")
    assert(plan.contains("o_year"), s"o_year not a partition filter:\n$plan")
  }

  test("agg_percentile_approx: mergeable sketch plans partial+final, no sort") {
    val plan = executed("agg_percentile_approx")
    assert("HashAggregate|ObjectHashAggregate".r.findAllIn(plan).size >= 2,
      s"expected partial+final aggregate:\n$plan")
  }

  test("fleet: no unbounded nested-loop or cartesian joins anywhere") {
    // Queries allowed a BroadcastNestedLoopJoin — every one carries an
    // explicit candidate bound or broadcasts a provably tiny side:
    val boundedByDesign = Set(
      "join_cross",             // contract cross join: region(5) × nation(25)
      "vec_cosine_pairs",       // vec_id < 30 verification stage
      "vec_cosine_pairs_native", // same bounded stage, codegen'd dot twin
      "vec_error_metrics",      // vec_id < 20 scoring stage
      "vec_knn_topk",           // 10 broadcast query vectors (M5/M15 = scale path)
      "dedup_embedding_topk",   // vec_id < 300 verification stage
      "text_jaccard_pairs",     // doc_id < 10 verification stage
      "text_levenshtein_pairs", // doc_id < 8 blocking survivors
      "text_tfidf_top",         // broadcast 1-row corpus count
      "ann_ivf_topk",           // broadcast 10-row centroid table
      "param_sweep_argmin",     // broadcast ≤7-row param grid
      "param_sweep_de_step",    // broadcast 12-row parent+trial table (D5)
      "param_sweep_saes_step",  // broadcast 20-row (μ+λ) candidate table (D6)
      "dq_rule_violations",     // 1-row rule agg × 1-row denominator agg
      "agg_decay_halflife",     // broadcast 1-row reference timestamp
      "dq_anomaly_mad",         // broadcast 1-row median + 1-row MAD
      "text_sparse_cosine_topk", // broadcast 1-row corpus count
      "ann_recall_at_k",        // 10 broadcast query vectors (J3 pattern)
      "ann_recall_full",        // same 10-query exact-GT side vs the full artifact
      "graph_triangle_knn",     // 1-row vertex/edge/triangle count joins
      "text_keywords_per_doc",  // broadcast 1-row corpus count (J9 pattern)
      "dq_distribution_drift",  // broadcast 1-row grand-total aggregate
      "wk_q22_lapsed_customers", // broadcast 1-row balance threshold
      "graph_pagerank_knn",     // 1-row vertex count joined once, into the initial ranks
      "graph_pagerank_full",    // same one-time 1-row vertex-count join (M51 shape)
      "pipeline_token_budget_mix", // broadcast 1-row grand-total token/weight sums
      "vec_pca_power_iter",     // broadcast 1-row iterate/eigenvalue/count relations
      "ts_changepoint_cusum",   // broadcast 1-row total/n_days aggregate
      "vec_kmeans_lloyd",       // broadcast ≤10-row centroid table per Lloyd round
      "vec_matryoshka_eval",    // 10 broadcast query vectors × both arms (J3 pattern)
      "text_bm25_topk",         // broadcast 1-row corpus stats + 3-row query terms
      "vec_ivf_stats",          // broadcast 10-row centroid table + 1-row totals
      "text_perplexity_proxy",  // broadcast 1-row total-token count
      "dedup_lsh_recall_eval",  // 1-row count × count × count final join
      "dq_ks_test",             // broadcast 1-row (n_a, n_b) totals
      "dq_benford_first_digit", // broadcast 1-row order-count denominator
      // the derived-partsupp family: Tables.partsupp crossJoins the
      // broadcast 1-row supplier count (the only BNLJ in each plan);
      // wk_q11 additionally broadcasts its 1-row total/n_parts agg
      "wk_q2_min_cost_supplier", "wk_q9_product_profit",
      "wk_q11_important_stock", "wk_q16_supplier_cnt", "wk_q20_excess_stock",
      "dedup_band_tuning_sweep", // broadcast 1-row ground-truth count
      // the PQ family: a broadcast 4-row subspace fanout in the index
      // build, plus (ADC consumers) the ≤8-row per-query LUT broadcast —
      // the ADC scan IS a broadcast cross of the bounded query set
      "vec_pq_adc_topk", "vec_pq_error", "vec_pq_rerank",
      "ann_ivf_pq_topk", "dedup_pq_codes",
      "search_hybrid_rrf",        // 8 broadcast query vectors per channel (J3/ADC patterns)
      "graph_modularity_labels",  // broadcast 1-row moment aggregate
      "dq_freshness_lag",         // broadcast 1-row global-max aggregate
      "pipeline_shard_manifest",  // broadcast 1-row token total
      "vec_binary_hamming_topk",  // 10 broadcast sign words (J3 pattern)
      "ts_seasonal_anova",        // broadcast 1-row moment + peak aggregates
      "ts_forecast_baseline_mae", // hour spine × broadcast ~5-row type list
      "dq_ab_ttest",              // two broadcast 1-row arm aggregates
      "pipeline_license_filter",  // broadcast 1-row token total
      "graph_kcore_peel",         // per-round 1-row count × count joins
      "graph_triangle_full",      // 1-row vertex/edge/triangle count joins (M42 shape)
      "graph_modularity_full",    // broadcast 1-row moment aggregate (M55 shape)
      "pq_recall_at_k",           // 8 broadcast query LUTs/vectors (J3/ADC patterns)
      "vec_ivf_recall_sweep",     // 10 broadcast query vectors + 3-row nprobe grid
      "vec_probe_adaptive",       // 10 broadcast query vectors + 1-row corpus floor
      "vec_pq_residual",          // 8 broadcast query vectors (exact-GT side) +
                                  // 8×10 broadcast per-cell LUTs (J3/ADC patterns)
      "dq_schema_drift",          // broadcast 1-row ts-range midpoint
      "pipeline_domain_mix_kl",   // broadcast 1-row total-token/K aggregate
      "ann_multitable_topk",      // 8 broadcast query vectors (exact-GT side, J3)
      "vec_dim_variance_prune",   // broadcast 1-row total-variance aggregate
      "text_bpe_merge_round",     // broadcast 1-row top-pair + applied-count aggs
      "pipeline_dsir_weights",    // broadcast 1-row corpus/target token totals
      "agg_theta_kmv",            // 1-row theta × 1-row exact-intersection joins
      "ann_range_search",         // 10 broadcast query vectors (J3 pattern)
      "ml_pr_curve",              // 5-row broadcast threshold grid
      "vec_retrain_churn",        // two 10-row quantizer broadcasts + 1-row total
      "ml_lift_deciles",          // broadcast 1-row (N, P) grand totals
      "text_rarity_buckets",      // broadcast 1-row corpus token total
      "dq_profile_table")         // seven 1-row aggregate results cross-joined
                                  // (round 17: the Expand-free profile shape)
    SparkEntry.queries.keys.filterNot(boundedByDesign).foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name plans an unapproved BroadcastNestedLoopJoin")
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a CartesianProduct")
    }
  }


  test("M42-family: bucketed kNN builder joins on the cell key, never all-pairs") {
    // The graph family (M42/M44/M51/M54/M56) reads its edges from the
    // store's `knn_candidates` artifact, built by Similarity.knnCandidates.
    // Round 5's base was an all-pairs non-equi self-join (O(n^2) dots at any
    // corpus size); this gate pins the rebased build: candidates must come
    // from the cell equi-join, with no nested-loop or cartesian anywhere in
    // the candidate path (the only cross join in the builder is the 10-row
    // broadcast centroid table, materialized behind the routing-table
    // checkpoint before this plan is produced).
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, sf).where(col("vec_id") < 500)
      .select(col("vec_id"), col("embedding"), col("label"))
    val knn = KnnReference.knnBucketed(e, 5)
    val plan = knn.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"candidate path must not nested-loop:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
    assert(plan.contains("cell"), s"candidate join must key on cell:\n$plan")
    // out-degree is exactly k for every query vector (cells are ~50 wide,
    // so the probed candidate pool always covers k=5)
    val deg = knn.groupBy(col("a_id")).count()
    assert(deg.where(col("count") =!= 5).count() == 0, "every vertex has out-degree k")
    assert(deg.count() == 500)
  }

  test("N1: profile runs Expand-free with column-pruned distinct scans") {
    // round 17: six exact countDistincts in one agg planned as an Expand
    // that multiplied the full-width scan 7x before the hash aggregate
    // (measured 6.9 s of 9.2 s CPU at sf0.1). The profile now runs one
    // streaming-metrics scan plus one column-pruned two-level aggregate
    // per distinct count — so the plan must have NO Expand, and every
    // relation leaf beyond the first must prune to a single column.
    val qe = run("dq_profile_table").queryExecution
    val plan = qe.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("Expand"),
      "profile must not multiply the scan through an Expand")
    val leaves = qe.optimizedPlan.collectLeaves()
    assert(leaves.size == 7, s"expected 1 metrics + 6 distinct scans:\n$leaves")
    // pruning is physical (the logical Relation leaf keeps the table
    // schema): each distinct scan must read exactly one column
    val singleCol = "ReadSchema: struct<[^,>]*>".r.findAllIn(plan).size
    assert(singleCol >= 6,
      s"distinct scans must prune to their one column:\n$plan")
  }

  test("L12: SCD2 intervals share ONE hash exchange across both windows") {
    val df = run("scd2_change_intervals")
    df.collect()
    // keep only the final adaptive plan — the "Initial Plan" section
    // repeats every node with fresh plan_ids
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // lag-filter window and lead/version window both cluster on user_id:
    // ONE hash exchange feeds both (the only other exchange is the
    // rangepartitioning presentation sort) — a second hash shuffle would
    // double the data movement at 100 TB. The AQE plan string renders
    // reused subtrees repeatedly and hides stage internals from
    // TreeNode.collect, so count DISTINCT plan_ids of hash exchanges.
    val hashExIds = "Exchange hashpartitioning\\([^\\]]*plan_id=(\\d+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSet
    assert(hashExIds.size == 1, s"expected one shared user_id exchange:\n$plan")
    assert(plan.contains("hashpartitioning(user_id"), plan)
  }

  test("L13: stream-stream join's batch twin is a keyed join, never cartesian") {
    val plan = executed("stream_join_view_purchase")
    assert(plan.contains("Join"), plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"interval join must stay keyed on user_id:\n$plan")
  }

  test("M32: bigram counting is join-free (per-row transform, no positional self-join)") {
    val plan = executed("text_ngram_topk")
    assert(!plan.contains("Join"), s"ngram generation must not join:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"top-k should TakeOrdered:\n$plan")
  }

  test("C11: BinnedRangeJoinRule turns the key-less interval join into a keyed join") {
    val df = run("join_range_binned")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // broadcast is disabled in the rule session, so without the rewrite
    // this could only be a CartesianProduct/BNLJ — the rule must have
    // produced a bin-keyed join instead
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"rule failed to rescue the key-less range join:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
    assert(plan.contains("__l_bin") || plan.contains("__r_bin"),
      s"expected bin keys in the join:\n$plan")
  }

  test("C11: rule preserves semantics on synthetic data incl. bin-boundary points") {
    import org.apache.spark.sql.functions._
    val s = SparkSpec.spark
    import s.implicits._
    val W = graft.plans.BinnedRangeJoinRule.binWidthUs
    // points: every quarter-bin plus exact bin boundaries; intervals of
    // 0.5–8 bins starting at varied offsets (some span many bins, one is
    // a single point lo == hi on a boundary)
    val pts = (0L to 40L).map(i => i * W / 4).toDF("p")
    val ivs = Seq(
      (0L, W / 2), (W, 3 * W), (W / 4, W / 4), (2 * W, 10 * W),
      (5 * W, 5 * W), (W * 3 / 2, W * 7 / 2)).toDF("lo", "hi")
    // plain session (no rule): reference semantics
    val ref = pts.join(ivs, col("p") >= col("lo") && col("p") <= col("hi"))
      .select("p", "lo", "hi").collect().map(_.toString).sorted
    // rule session: same join through the rewrite
    val s2 = s.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.experimental.extraOptimizations =
      s2.experimental.extraOptimizations :+ graft.plans.BinnedRangeJoinRule
    import scala.jdk.CollectionConverters._
    val ptsR = s2.createDataFrame(pts.collect().toList.asJava, pts.schema)
    val ivsR = s2.createDataFrame(ivs.collect().toList.asJava, ivs.schema)
    val got = ptsR.join(ivsR, col("p") >= col("lo") && col("p") <= col("hi"))
    val gotRows = got.select("p", "lo", "hi").collect().map(_.toString).sorted
    assert(gotRows.sameElements(ref), "rewrite changed join semantics")
    val plan = got.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"synthetic key-less join not rescued:\n$plan")
  }

  test("A5: dim-filtered star over partitioned layout fires dynamic partition pruning") {
    val df = run("join_dpp_partitioned")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression"),
      s"DPP did not fire:\n$plan")
    assert(plan.contains("SubqueryBroadcast") || plan.contains("ReusedExchange"),
      s"runtime dim-key broadcast missing:\n$plan")
  }

  test("A6: bucketed co-located join plans with no exchange on the join keys") {
    val df = run("join_bucketed_colocated")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
    // AQE renders the scans in both the Final and Initial plan sections
    assert("Bucketed: true".r.findAllIn(plan).size >= 2,
      s"both scans must be bucketed:\n$plan")
    // the bucket layout replaces the shuffle: no exchange on either key
    // (the only exchanges belong to the post-join aggregation/sort)
    assert(!plan.contains("Exchange hashpartitioning(o_custkey"),
      s"orders side shuffled despite bucketing:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning(c_custkey"),
      s"customer side shuffled despite bucketing:\n$plan")
  }

  test("G3v2: TopKSketch top-k aggregates partial+final with no window operator") {
    val df = run("topk_per_group_agg")
    val plan = df.queryExecution.executedPlan.toString
    // mergeable buffer → map-side combine: partial + final ObjectHashAggregate
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2,
      s"expected partial+final ObjectHashAggregate:\n$plan")
    // the whole point: no per-group sort-then-filter window machinery
    assert(!plan.contains("Window"), s"window operator crept in:\n$plan")
    // row-identical to the window form
    val a = run("topk_per_group")
    val b = run("topk_per_group_agg")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
      "aggregate twin must match the window form row-for-row")
  }

  test("A9: runtime bloom filter prunes the probe side of the fact-fact join") {
    val df = run("join_bloom_pruned")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // InjectRuntimeFilter rewrote the probe scan: the lineitem side filters
    // through the bloom built from the selective orders side — the
    // shuffle-join companion of the DPP gate at A5. (The physical plan
    // renders the rewrite as might_contain(...) over a bloom_filter_agg
    // subquery — the SQL-level name bloom_filter_might_contain does not
    // appear in executed-plan strings.)
    assert(plan.contains("might_contain"),
      s"runtime bloom filter not injected:\n$plan")
    assert(plan.contains("bloom_filter_agg"),
      s"bloom build side missing:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"),
      "join must be a shuffle join or the bloom has nothing to save")
  }

  test("merge: incremental merge shuffles only on the fingerprint key, never cartesian") {
    val df = run("pipeline_incremental_merge")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"merge must stay keyed:\n$plan")
    // the batch dedup window and the corpus-membership join both cluster on
    // fp — the merge's only data-sized exchanges hash on the fingerprint
    assert(plan.contains("hashpartitioning(fp"),
      s"expected fp-keyed exchange:\n$plan")
  }

  test("AQE: skewed sort-merge join is split at runtime (skew=true)") {
    // thresholds shrunk so test-SF data trips the skew detector; the same
    // mechanism handles hot keys at 100 TB without query changes
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      import org.apache.spark.sql.functions._
      // ~70% of left rows share one hot key. Two shapes matter:
      //  * the payload must be incompressible (md5) — a column of identical
      //    longs LZ4-compresses below any threshold;
      //  * the map side needs >1 task (repartition(8)): AQE splits a skewed
      //    partition at MAPPER-block boundaries, so a single-file scan
      //    (one mapper) is unsplittable no matter how skewed.
      val left = Tables.lineitem(spark, sf).select(
        when(col("l_linenumber") <= 5, 0L).otherwise(col("l_orderkey") % 50)
          .as("k"),
        md5(concat(col("l_orderkey").cast("string"),
          col("l_linenumber").cast("string"))).as("payload"))
        .repartition(8)
      val right = Tables.orders(spark, sf)
        .select((col("o_orderkey") % 50).as("k"), col("o_totalprice"))
      // a global agg (no clustering requirement downstream) — a keyed
      // groupBy would make AQE skip the split to avoid an extra shuffle
      val df = left.join(right, "k")
        .agg(count(lit(1)).as("n"), sum(length(col("payload"))).as("b"))
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not split the skewed partition:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("CBO: ANALYZE TABLE statistics reach the optimizer") {
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      Tables.orders(spark, sf).write.mode("overwrite")
        .option("path", "/tmp/graft_stats_orders")
        .format("parquet").saveAsTable("graft_stats_orders")
      spark.sql("ANALYZE TABLE graft_stats_orders COMPUTE STATISTICS")
      spark.sql(
        "ANALYZE TABLE graft_stats_orders COMPUTE STATISTICS FOR COLUMNS o_custkey")
      val stats = spark.table("graft_stats_orders")
        .queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(1500)),
        s"row count not propagated: ${stats.rowCount}")
      assert(stats.attributeStats.nonEmpty,
        "column-level stats not propagated")
    } finally spark.conf.set("spark.sql.cbo.enabled", "false")
  }

  test("CBO: column stats drive join-strategy selection (selectivity -> broadcast)") {
    // VERDICT r6 #5: prove the optimizer USES the stats, not just stores
    // them — the knob a 100 TB deployment tunes first. A selective filter
    // on an analyzed column shrinks the estimated size below the
    // broadcast threshold only under CBO's FilterEstimation; without CBO
    // the filter inherits the scan-size estimate and the same join must
    // sort-merge. Both plans execute the same rows — only the strategy
    // may differ.
    import org.apache.spark.sql.functions.col
    val warehouseA = "/tmp/graft_cbo_orders"
    val warehouseB = "/tmp/graft_cbo_lines"
    Tables.orders(spark, sf).write.mode("overwrite")
      .option("path", warehouseA).format("parquet").saveAsTable("graft_cbo_orders")
    Tables.lineitem(spark, sf).write.mode("overwrite")
      .option("path", warehouseB).format("parquet").saveAsTable("graft_cbo_lines")
    spark.sql("ANALYZE TABLE graft_cbo_orders COMPUTE STATISTICS FOR COLUMNS o_orderkey, o_custkey")
    spark.sql("ANALYZE TABLE graft_cbo_lines COMPUTE STATISTICS FOR COLUMNS l_orderkey")
    val savedThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    def plan(): String = {
      val probe = spark.table("graft_cbo_orders").where(col("o_custkey") === 7)
        .join(spark.table("graft_cbo_lines"), col("o_orderkey") === col("l_orderkey"))
      probe.queryExecution.executedPlan.toString
    }
    try {
      // threshold below the raw file size but far above the
      // selectivity-estimated size of the filtered orders side
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "8KB")
      spark.conf.set("spark.sql.adaptive.enabled", "false") // isolate CBO from AQE runtime sizing
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val cboPlan = plan()
      assert(cboPlan.contains("BroadcastHashJoin"),
        s"with column stats, the filtered side must broadcast:\n$cboPlan")
      spark.conf.set("spark.sql.cbo.enabled", "false")
      val noCboPlan = plan()
      assert(!noCboPlan.contains("BroadcastHashJoin"),
        s"without CBO the size estimate stays scan-sized — must sort-merge:\n$noCboPlan")
      assert(noCboPlan.contains("SortMergeJoin"), s"expected SMJ:\n$noCboPlan")
    } finally {
      spark.conf.set("spark.sql.cbo.enabled", "false")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedThresh)
    }
  }

  test("M72: partitioned-bloom probe is a bucket-keyed shuffle join, filter relation never broadcast/collected") {
    // VERDICT r7 #1: the probe shape that survives a 100 TB standing
    // corpus — probes shuffle by bucket and meet their bucket's filter
    // bytes in a shuffle-hash join; no filter ever reaches the driver or
    // a broadcast. Asserted on exactly the probe sub-plan.
    val (_, _, candidates) = graft.ops.Dedup.bloomPartitionedProbe(spark, sf)
    candidates.collect()
    val plan = candidates.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin [bucket"),
      s"probe must be a bucket-keyed shuffle-hash join:\n$plan")
    assert(plan.contains("graft_bloom"),
      s"the distributed filter build (graft_bloom agg) must feed the join:\n$plan")
    assert(!plan.contains("BroadcastExchange") && !plan.contains("BroadcastHashJoin"),
      s"the filter relation must stay distributed — no broadcast anywhere in the probe:\n$plan")
  }

  test("A4: partitioned parquet write round-trips") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part_write").toString
    Tables.orders(spark, sf)
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == 1500)
    assert(back.select("o_orderstatus").distinct().count() == 3)
    // partition pruning: reading one status folder touches one partition
    val pruned = back.where("o_orderstatus = 'F'")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() > 0 && scan.contains("PartitionFilters"))
  }

  /** Physical children, looking through the AQE wrappers (the adaptive
    * root's current plan, query stages, reused exchanges).
    */
  private def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case r: ReusedExchangeExec => Seq(r.child)
    case other => other.children
  }

  /** Every broadcast subtree of `plan` that reaches a scan of `table`
    * with no aggregate between the broadcast and the scan: a relation
    * shipped through the driver at the table's own row count.
    */
  private def rawBroadcasts(plan: SparkPlan, table: String): Seq[SparkPlan] = {
    def rawScan(p: SparkPlan): Boolean = p match {
      case s: FileSourceScanExec =>
        s.relation.location.rootPaths.exists(_.getName == s"$table.parquet")
      case _: BaseAggregateExec => false
      case o => kids(o).exists(rawScan)
    }
    def all(p: SparkPlan): Seq[SparkPlan] =
      (if (p.isInstanceOf[BroadcastExchangeExec]) Seq(p) else Nil) ++
        kids(p).flatMap(all)
    all(plan).filter(b => kids(b).exists(rawScan))
  }

  test("W11/C6: q13 and join_semi broadcast orders only after aggregating them per customer") {
    def finalPlan(df: org.apache.spark.sql.DataFrame): SparkPlan = {
      df.collect()
      df.queryExecution.executedPlan
    }
    for (key <- Seq("wk_q13_order_count_dist", "join_semi")) {
      val plan = finalPlan(run(key))
      assert(plan.toString.contains("orders.parquet"), s"$key must scan orders:\n$plan")
      assert(rawBroadcasts(plan, "orders").isEmpty,
        s"$key: a broadcast ships un-aggregated orders rows:\n$plan")
    }
    // the gate is not vacuous: the textbook join-then-count form fails it
    assert(rawBroadcasts(finalPlan(Q13Reference(spark, sf)), "orders").nonEmpty)
  }
}
