"""Physical-plan regression tests: pin the execution strategies that
EXPLAIN.md documents, so a refactor that silently degrades a plan
(broadcast -> shuffle, lost pushdown, Python creeping into a JVM path)
fails CI instead of only showing up at 100 TB.
"""

import re

import pytest

from data_misc_tools_spark.catalog import QUERIES


def _plan(spark, name, sf_dir):
    """Formatted explain: prints scan metadata (PushedFilters,
    ReadSchema) in full, unlike executedPlan().toString() which
    truncates every metadata field at ~100 chars."""
    df = QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_q3_q5_dimension_joins_broadcast(spark, sf_dir):
    for name in ["q3_shipping_priority", "q5_region_volume"]:
        plan = _plan(spark, name, sf_dir)
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name  # dims must not shuffle-sort


def test_q6_predicates_reach_the_scan(spark, sf_dir):
    plan = _plan(spark, "q6_forecast_revenue", sf_dir)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m, "no pushed filters in q6 scan"
    s = m.group(1)
    assert "l_shipdate" in s and "l_discount" in s and "l_quantity" in s


def test_q1_reads_only_needed_columns(spark, sf_dir):
    plan = _plan(spark, "q1_pricing_summary", sf_dir)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate",
    }


def test_semi_and_anti_joins_stay_semi(spark, sf_dir):
    assert "LeftSemi" in _plan(spark, "q4_order_priority", sf_dir)
    p22 = _plan(spark, "q22_idle_rich_customers", sf_dir)
    assert "LeftAnti" in p22


def test_q7_q8_broadcast_all_dimensions(spark, sf_dir):
    for name in ["q7_volume_shipping", "q8_market_share"]:
        plan = _plan(spark, name, sf_dir)
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name


def test_q10_top20_avoids_global_sort(spark, sf_dir):
    plan = _plan(spark, "q10_returned_items", sf_dir)
    assert "TakeOrderedAndProject" in plan


def test_quality_quartile_filter_has_no_window(spark, sf_dir):
    """The primary quartile filter must be the histogram-cutoff form:
    a scan-local comparison filter, never a global-ntile Window (that
    plan funnels the whole corpus through one reducer)."""
    plan = _plan(spark, "quality_quartile_filter", sf_dir)
    assert "Window" not in plan
    assert "Sort" not in plan


def test_sampling_queries_are_scan_local(spark, sf_dir):
    """hash_sample / stratified filters must stay shuffle-free."""
    plan = _plan(spark, "sample_documents_hash", sf_dir)
    assert "Exchange" not in plan


def test_no_python_eval_in_relational_paths(spark, sf_dir):
    """Python runners belong only to inherently Python-side operators;
    the relational/text/sampling catalog must stay JVM-only."""
    for name in [
        "q1_pricing_summary", "q18_large_orders", "text_quality",
        "sample_per_group_reservoir", "pack_token_batches",
        "running_daily_revenue", "event_transitions",
    ]:
        plan = _plan(spark, name, sf_dir)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_topk_uses_take_ordered(spark, sf_dir):
    """LIMIT+ORDER BY must compile to TakeOrderedAndProject (per-
    partition heaps), never a global sort followed by limit."""
    plan = _plan(spark, "q3_shipping_priority", sf_dir)
    assert "TakeOrderedAndProject" in plan


@pytest.mark.parametrize("name", ["orders_cube", "orders_rollup"])
def test_grouping_sets_single_exchange(spark, sf_dir, name):
    plan = _plan(spark, name, sf_dir)
    assert plan.count("Exchange") <= 2  # one agg exchange (+AQE read)
    assert "Expand" in plan


def test_q2_filters_before_window_min(spark, sf_dir):
    """q2's correlated min-cost subquery is a window min; the part /
    region screens must broadcast and prune BEFORE the window, so the
    windowed frame is the filtered slice, not all of lineitem."""
    plan = _plan(spark, "q2_min_cost_supplier", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan  # LIMIT 100 never global-sorts


def test_q11_total_is_broadcast_scalar(spark, sf_dir):
    """The HAVING-over-global-sum threshold joins as a broadcast
    scalar (BroadcastNestedLoopJoin over 1 row), not a shuffle."""
    plan = _plan(spark, "q11_important_parts", sf_dir)
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q20_nested_in_compiles_to_semi_join(spark, sf_dir):
    plan = _plan(spark, "q20_part_promotion_suppliers", sf_dir)
    assert "LeftSemi" in plan


def test_q21_window_reuses_group_clustering(spark, sf_dir):
    """The per-order window runs over the (orderkey, suppkey) agg:
    no Python, dims broadcast, and the final top-k heap-selects."""
    plan = _plan(spark, "q21_waiting_suppliers", sf_dir)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_unigram_nll_reuses_the_token_exchange(spark, sf_dir):
    """Model fit and scoring must branch off one (doc, token)
    aggregate: the executed plan shows ReusedExchange, meaning the
    corpus is scanned + exploded ONCE, not once per branch."""
    df = QUERIES["text_unigram_nll"](spark, sf_dir)
    df.collect()  # AQE finalizes reuse at execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan


def test_cohort_retention_self_join_is_co_partitioned(spark, sf_dir):
    """The distinct (user, period) frame and the per-user min both
    hash by user: joining them must not add a third exchange for the
    join itself (static plan: distinct agg + min agg only)."""
    plan = _plan(spark, "cohort_retention_weekly", sf_dir)
    # exchanges: distinct, min-agg, final rollup (+AQE reads); the
    # user-key join must not add a fourth (at test scale AQE may also
    # broadcast the tiny min side — either way, no join exchange)
    assert plan.count("Exchange hashpartitioning") <= 3
    assert "BatchEvalPython" not in plan


def test_skew_report_is_one_agg_plus_topk(spark, sf_dir):
    plan = _plan(spark, "skew_report_users", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan  # the scalar total
    assert "BatchEvalPython" not in plan


def test_funnel_single_scan_single_user_shuffle(spark, sf_dir):
    df = QUERIES["funnel_view_click_purchase"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # one scan of events: the fold replaces a join-per-stage plan
    assert plan.count("Scan parquet") == 1


def test_repetition_signals_is_exchange_free(spark, sf_dir):
    """The narrow repetition-signal shape must stay a pure projection:
    one scan, zero shuffles — that's its whole 100 TB argument."""
    plan = _plan(spark, "text_repetition_signals", sf_dir)
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_tfidf_broadcasts_document_frequency(spark, sf_dir):
    """df(term) is vocabulary-sized: it must reach the tf side as a
    broadcast, and both branches must reuse one (doc, term) exchange
    instead of scanning the corpus twice (AQE finalizes the reuse at
    execution, so assert on the executed plan)."""
    df = QUERIES["tfidf_topk_terms"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "ReusedExchange" in plan


def test_pii_scrub_is_scan_local(spark, sf_dir):
    plan = _plan(spark, "pii_scrub_demo", sf_dir)
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_chunk_documents_is_exchange_free(spark, sf_dir):
    """Chunking is a map-only explode: one scan, zero shuffles, zero
    Python — its scan-speed claim at corpus scale."""
    plan = _plan(spark, "chunk_documents", sf_dir)
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_sq_adc_topk_broadcasts_queries_jvm_side(spark, sf_dir):
    """Compressed ANN scoring: query side broadcast (corpus never
    shuffles for the join), integer scoring stays in the JVM."""
    plan = _plan(spark, "embedding_sq_adc_topk", sf_dir)
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_zorder_key_is_scan_local(spark, sf_dir):
    plan = _plan(spark, "zorder_key_demo", sf_dir)
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def _n_exchanges(plan):
    # formatted explain prints every node twice (tree + detail
    # section); count the "(N) Exchange" detail headers only
    return len(re.findall(r"^\(\d+\) Exchange", plan, re.M))


def test_html_strip_is_scan_local(spark, sf_dir):
    """strip_html must stay one shuffle-free projection over the scan
    (regexp chain in WholeStageCodegen, no Python, no Exchange)."""
    plan = _plan(spark, "html_strip_demo", sf_dir)
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_k_anonymity_is_one_hash_aggregate(spark, sf_dir):
    """Quasi-identifier grouping: partial+final HashAggregate around a
    single Exchange; the distinct count adds an Expand, never a Sort."""
    plan = _plan(spark, "k_anonymity_report", sf_dir)
    assert _n_exchanges(plan) <= 2  # distinct-agg keyed re-exchange
    assert "SortAggregate" not in plan and "Python" not in plan


def test_corr_exact_single_aggregate_no_python(spark, sf_dir):
    plan = _plan(spark, "corr_quantity_price", sf_dir)
    assert _n_exchanges(plan) == 1
    assert "Python" not in plan
    # filter must reach the parquet scan
    assert re.search(r"PushedFilters: \[[^\]]*l_shipdate", plan)


def test_editdist_verify_joins_broadcast(spark, sf_dir):
    """Candidate-pair verify attaches the two texts via joins that
    must never fall back to SortMergeJoin on the small dim side."""
    plan = _plan(spark, "dedup_editdist_verify", sf_dir)
    assert "SortMergeJoin" not in plan
    assert "Python" not in plan


def test_changelog_compact_one_exchange_sort_aggregate(spark, sf_dir):
    """compact_changelog (cdc.keep_latest): ONE key Exchange between a
    partial and a final max_by SortAggregate, each after a
    partition-local sort — a Window or a global Sort would mean the
    keep-latest pick regressed."""
    plan = _plan(spark, "changelog_compact_demo", sf_dir)
    assert _n_exchanges(plan) == 1
    assert "SortAggregate" in plan
    assert "Window" not in plan
    # formatted explain: a Sort's arguments are "[order], global, ..."
    sorts = re.findall(r"\(\d+\) Sort\s*\n.*\nArguments: \[.*\], (true|false)", plan)
    assert sorts and "true" not in sorts, sorts
    assert "Python" not in plan


def test_mad_outliers_group_stats_broadcast(spark, sf_dir):
    """Both percentile-stat joins must broadcast (group table is tiny
    by construction) — a SortMergeJoin would re-shuffle the events
    table twice."""
    plan = _plan(spark, "outlier_events_mad", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bm25_single_token_exchange_and_broadcasts(spark, sf_dir):
    """bm25_search_topk: dl rides the (doc, token) exchange (no
    SortMergeJoin on doc_id); query terms / df / corpus totals all
    broadcast; per-query top-k is a WindowGroupLimit, not a global
    sort of all scores."""
    plan = _plan(spark, "bm25_search_topk", sf_dir)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan


def test_bm25_prf_reuses_pass1_tf(spark, sf_dir):
    """bm25_prf_search (the r7 ReusedExchange audit): pass 2 scores
    the checkpointed pass-1 tf UNION new-term tf, so the executed
    plan holds one union scoring pass over checkpointed inputs —
    not a re-planned copy of the whole pass-1 + mining lineage
    (the pre-audit plan carried 40 exchanges; the audited one <= 12
    physical, and the pass-1/mining subtrees appear zero times
    because the checkpoints truncate them). Formatted explain lists
    each node twice (tree + detail), hence the doubled bounds."""
    plan = _plan(spark, "bm25_prf_search", sf_dir)
    assert plan.count("Exchange") <= 24
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Union" in plan
    assert "WindowGroupLimit" in plan


def test_tiff_walk_is_pure_catalyst(spark, sf_dir):
    """tiff_meta_demo: writer + IFD-chain reader stay JVM-side (the
    mp4/jpeg fold class) — zero Python eval operators."""
    plan = _plan(spark, "tiff_meta_demo", sf_dir)
    for marker in ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas"):
        assert marker not in plan


def test_corr_matrix_single_scan_single_exchange(spark, sf_dir):
    """corr_matrix_lineitem: k sums + k²/2 cross-products in ONE
    aggregate — one lineitem scan (formatted explain lists nodes
    twice), one 1-row exchange, no joins."""
    plan = _plan(spark, "corr_matrix_lineitem", sf_dir)
    assert plan.count("Scan parquet") == 2
    assert "Join" not in plan
    assert "Python" not in plan


def test_write_plan_one_agg_no_python(spark, sf_dir):
    """write_plan_lineitem: the width model is a scan-local
    expression feeding one keyed aggregate — one scan, no joins, no
    Python."""
    plan = _plan(spark, "write_plan_lineitem", sf_dir)
    assert plan.count("Scan parquet") == 2
    assert "Join" not in plan
    assert "Python" not in plan


def test_fairness_report_single_agg(spark, sf_dir):
    """fairness_stopword_length: score + bucket are scan-local
    expressions; counts come from one group-keyed aggregate."""
    plan = _plan(spark, "fairness_stopword_length", sf_dir)
    assert plan.count("Scan parquet") == 2
    assert "Join" not in plan
    assert "Python" not in plan


def test_sprt_rollup_then_bounded_window(spark, sf_dir):
    """sprt_purchase_rate: one event scan into the daily rollup; the
    cumulative window runs over the bounded PERIOD frame (days), and
    the llr is pure integer arithmetic — no joins, no Python."""
    plan = _plan(spark, "sprt_purchase_rate", sf_dir)
    assert plan.count("Scan parquet") == 2
    assert "Join" not in plan
    assert "Python" not in plan
    assert "Window" in plan


_PY_MARKERS = ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas")


def test_kruskal_and_bf_censuses_stay_partitioned(spark, sf_dir):
    """kruskal: the pooled cumsum is range-partitioned via
    global_cumsum and the CHECKPOINTED census truncates the lineage
    (its two consumers must not replay the scan); bf: cumsums are
    GROUP-partitioned. Neither plan may grow a cartesian or
    Python-eval op."""
    p1 = _plan(spark, "kruskal_value_by_type", sf_dir)
    assert "CartesianProduct" not in p1
    for m in _PY_MARKERS:
        assert m not in p1
    # the k-row terms frame is CHECKPOINTED (ADVICE r8): its two
    # consumers (hsum + final join) must not replay the cells census
    # — with pooled checkpointed too the final plan holds NO scans
    assert p1.count("Scan parquet") == 0
    p2 = _plan(spark, "bf_variance_by_type", sf_dir)
    assert "CartesianProduct" not in p2
    for m in _PY_MARKERS:
        assert m not in p2
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", p2):
        head = spec.split(",")[0].strip()
        assert not head.endswith("ASC NULLS FIRST"), (
            "unpartitioned window in bf plan: " + spec
        )


def test_trend_and_neyman_single_scan_shapes(spark, sf_dir):
    """trend: one event scan into a bounded-level aggregate chain;
    neyman: the strata aggregate is CHECKPOINTED so its two consumers
    (totals + allocation) share one scan — the pin that caught the
    pre-checkpoint double scan."""
    p1 = _plan(spark, "trend_dow_purchase", sf_dir)
    assert p1.count("Scan parquet") == 2
    assert "SortMergeJoin" not in p1
    for m in _PY_MARKERS:
        assert m not in p1
    p2 = _plan(spark, "neyman_alloc_events", sf_dir)
    assert p2.count("Scan parquet") == 0  # checkpoint truncates both
    assert "SortMergeJoin" not in p2


def test_funnel_bounded_single_user_shuffle(spark, sf_dir):
    """funnel_bounded_day: ONE scan, one user-keyed shuffle into the
    Catalyst DP fold — never a join-per-stage plan."""
    plan = _plan(spark, "funnel_bounded_day", sf_dir)
    assert plan.count("Scan parquet") == 2
    assert "Join" not in plan
    for m in _PY_MARKERS:
        assert m not in plan


def test_term_dispersion_no_grid_no_cartesian(spark, sf_dir):
    """term_dispersion: the absent-doc mass rides totals — no grid
    over (doc, word) absences; the shared census/per-word frames are
    checkpointed so the corpus explode runs once."""
    plan = _plan(spark, "term_dispersion_docs", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Scan parquet") == 0  # checkpoints truncate
    for m in _PY_MARKERS:
        assert m not in plan


def test_rmst_and_holt_bounded_shapes(spark, sf_dir):
    """rmst: windows over the per-duration KM frame; holt: the
    VALUES LocalRelation exit (driver recursion over the bounded
    rollup) — no RDD hop."""
    p1 = _plan(spark, "rmst_purchase_gap", sf_dir)
    assert "CartesianProduct" not in p1
    for m in _PY_MARKERS:
        assert m not in p1
    p2 = _plan(spark, "holt_linear_daily", sf_dir)
    assert "LocalTableScan" in p2
    assert "Scan ExistingRDD" not in p2


def test_repeated_ngrams_no_cartesian_no_python(spark, sf_dir):
    """dedup_repeated_ngrams: gram census + coverage joins are hash
    equi-joins; zero Python ops (all higher-order Catalyst)."""
    plan = _plan(spark, "dedup_repeated_ngrams", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for marker in ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas"):
        assert marker not in plan


def test_dsir_weight_table_broadcast_and_partial_topk(spark, sf_dir):
    """dsir_select_topk: the bucket weight table and totals broadcast;
    scoring never shuffle-joins the feature relation; global top-k is
    TakeOrderedAndProject (per-partition partial top-k), never a
    corpus-wide single-partition rank sort."""
    plan = _plan(spark, "dsir_select_topk", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_zipf_vocab_topk_is_partial(spark, sf_dir):
    plan = _plan(spark, "zipf_corpus_fit", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_mp4_and_tar_shapes(spark, sf_dir):
    """mp4_meta_demo stays pure Catalyst (no Python eval); the tar
    export shuffles once on shard_id into applyInPandas."""
    p1 = _plan(spark, "mp4_meta_demo", sf_dir)
    for marker in ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas"):
        assert marker not in p1
    p2 = _plan(spark, "tar_shard_export_demo", sf_dir)
    assert "FlatMapGroupsInPandas" in p2
    assert "SortMergeJoin" not in p2 and "CartesianProduct" not in p2


def test_semdedup_stays_blocked_and_broadcast(spark, sf_dir):
    plan = _plan(spark, "semdedup_embeddings", sf_dir)
    # seed assignment: tiny seed table broadcast into the corpus scan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # the pair pass must be the cluster-keyed equi-join, never a
    # corpus-wide cartesian
    assert "CartesianProduct" not in plan


def test_semantic_contamination_eval_side_broadcasts(spark, sf_dir):
    plan = _plan(spark, "semantic_contamination_flags", sf_dir)
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_salted_join_salts_the_small_side(spark, sf_dir):
    plan = _plan(spark, "salted_join_revenue", sf_dir)
    assert "Generate" in plan and "explode(" in plan  # small side replicated per salt
    assert "xxhash64" in plan          # deterministic big-side spread


def test_new_scan_local_ops_have_no_python(spark, sf_dir):
    for name in ["url_canonical_dedup", "pii_card_luhn"]:
        plan = _plan(spark, name, sf_dir)
        for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert marker not in plan, (name, marker)


def test_bootstrap_fast_path_is_md5_free(spark, sf_dir):
    plan = _plan(spark, "bootstrap_value_ci_fast", sf_dir)
    assert "md5" not in plan
    assert "xxhash64" in plan
    # the graded twin keeps the portable hash
    assert "md5" in _plan(spark, "bootstrap_value_ci", sf_dir)


def test_nb_confusion_reuses_one_trained_model(spark, sf_dir):
    """nb_train materializes cls/weights (localCheckpoint): the
    predict and confusion branches must reuse ONE train computation —
    before the checkpoint the demo plan re-derived the weight join
    per branch (29 exchanges; now ~half). Scans of the checkpointed
    RDDs show up, exchanges stay bounded."""
    df = QUERIES["nb_language_confusion"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 18
    assert "Scan ExistingRDD" in plan  # the checkpointed model tables


def test_pagerank_exact_rounds_are_linear(spark, sf_dir):
    """pagerank_exact (r10) runs its 5 single-reference rounds as ONE
    lazy plan: lineage grows LINEARLY (one edge-frame reference and
    ~2 exchanges per round), never the 2^rounds doubling that forces
    eager per-round materialization in twice-referenced iterative
    ops. Pin the linear shape: bounded exchanges, one checkpointed
    edge-frame scan per round (+1 for the node seed), top-k via
    TakeOrderedAndProject, and a plan string far below doubling size
    (5 doubled rounds would be >100 KB)."""
    df = QUERIES["pagerank_neardup_graph"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange") <= 13
    assert plan.count("Scan ExistingRDD") <= 7
    assert len(plan) < 40_000


def test_kmeans_assignment_broadcasts_centroids(spark, sf_dir):
    """Each Lloyd round joins the corpus against the BROADCAST k-row
    centroid table — the corpus must never shuffle for assignment,
    and rounds are cut by localCheckpoint (constant-size final plan)."""
    plan = _plan(spark, "kmeans_embeddings", sf_dir)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_dictionary_tag_broadcasts_the_dictionary(spark, sf_dir):
    plan = _plan(spark, "dictionary_tag_topics", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_rendezvous_assign_is_scan_local(spark, sf_dir):
    plan = _plan(spark, "rendezvous_shard_assign", sf_dir)
    assert "Exchange" not in plan  # in-row argmax: zero shuffles


def test_chi_square_is_one_aggregate(spark, sf_dir):
    """The 2x2 test must stay a single map-side-combined aggregate:
    one exchange of 4 longs, no join, no window."""
    df = QUERIES["ab_chi_square_purchase"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 1
    assert "Join" not in plan and "Window" not in plan


def test_exact_split_is_one_strata_shuffle(spark, sf_dir):
    """Rank + count windows share the lang partitioning: one shuffle,
    no join."""
    df = QUERIES["exact_stratified_split_langs"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 1
    assert "Join" not in plan


def test_welch_ttest_is_one_aggregate(spark, sf_dir):
    """Welch's t must keep the chi-square shape: one map-side-combined
    aggregate of six decimals over the scan — no join, no window."""
    df = QUERIES["welch_ttest_value"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 1
    assert "Join" not in plan and "Window" not in plan


def test_adamic_adar_topk_avoids_global_sort(spark, sf_dir):
    """AA's top-k must be TakeOrderedAndProject, the anti-join must
    stay a real anti-join, and nothing may cartesian."""
    plan = _plan(spark, "linkpred_adamic_adar", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "LeftAnti" in plan
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_kcenter_updates_broadcast_one_row_per_round(spark, sf_dir):
    """k-center's per-round state update is a narrow projection over
    the checkpointed state — the final picks frame is driver-built
    metadata (k rows), so the produced plan must be join-free; the
    real pin is that building it ran no crossJoin (the operator's
    rounds are least()-projections, asserted here via the query
    running at all under the session's crossJoin guard) and collected
    only 1 row per round (bounded by k)."""
    df = QUERIES["kcenter_coreset_embeddings"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert df.count() == 8


def test_pca_power_scatter_shuffle_is_constant_width(spark, sf_dir):
    """The scatter-matrix aggregate must keep its map-side combine
    (partial_sum before the exchange — the shuffle is <= dim² keys no
    matter how many rows scan) and the top-k must be TakeOrdered."""
    plan = _plan(spark, "pca_power_embeddings", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "partial_sum" in plan
    assert "Cartesian" not in plan


def test_containment_join_candidates_stay_equi_joined(spark, sf_dir):
    """The containment candidate step must be the prefix-token
    equi-join (no cartesian anywhere), with the verify step a
    pair-keyed aggregate."""
    plan = _plan(spark, "containment_quotes", sf_dir)
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_ql_dirichlet_filters_before_aggregating(spark, sf_dir):
    """The QL path must keep the bm25_topk lesson: the corpus explode
    is filtered by the broadcast query-term set BEFORE any aggregate,
    and the small sides (qterms/ctf/corpus) broadcast."""
    plan = _plan(spark, "ql_dirichlet_search", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "Cartesian" not in plan


def test_hybrid_rrf_fusion_is_one_aggregate_over_bounded_legs(spark, sf_dir):
    """No non-broadcast cartesian anywhere; the only cross joins are
    the by-design 1-row corpus-totals broadcasts each leg inherits
    from bm25_topk/ql_dirichlet_topk. r10 leg-share pin: both legs
    read the ONE pinned matched-tf relation and the ONE pinned corpus
    totals, so the final plan contains ZERO parquet scans (the corpus
    is tokenized once, in the pin job, not once per retriever)."""
    plan = _plan(spark, "hybrid_rrf_search", sf_dir)
    assert "CartesianProduct" not in plan
    assert plan.count("Scan parquet") == 0


def test_winnowing_selection_is_map_only(spark, sf_dir):
    """Fingerprint selection must stay per-document array math: no
    Window exchange, no explode-then-aggregate — the first shuffle in
    the plan belongs to the cross-doc match join, nothing earlier.
    Pin: no Window operator at all, no CartesianProduct."""
    plan = _plan(spark, "winnowing_match_pairs", sf_dir)
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_snm_global_rank_never_single_reducer_windows(spark, sf_dir):
    """The SNM sort position must come from the range-partitioned
    global_rank: the plan must contain a rangepartitioning exchange
    and NO empty-partition-spec window (the single-reducer trap)."""
    plan = _plan(spark, "snm_blocking_pairs", sf_dir)
    assert "rangepartitioning" in plan
    assert "CartesianProduct" not in plan


def test_fd_profile_is_per_dependency_aggregates_only(spark, sf_dir):
    """Each dependency is one LHS-keyed aggregate + one rollup: no
    join anywhere, no window, no cartesian."""
    plan = _plan(spark, "fd_profile_orders", sf_dir)
    assert "Join" not in plan and "Window" not in plan


def test_skyline_theta_join_is_broadcast_over_survivors(spark, sf_dir):
    """The quadratic dominance check must run only among grid-pruned
    survivors and as a BROADCAST nested loop (the survivor set is
    guard-bounded) — no shuffle-side cartesian."""
    plan = _plan(spark, "pareto_docs_skyline", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_mannwhitney_cumsum_is_range_partitioned(spark, sf_dir):
    """The rank prefix sums must ride global_cumsum's range-partitioned
    windows — a rangepartitioning exchange and NO empty-partition-spec
    single-reducer window; the final statistic is one tiny aggregate,
    no join beyond the broadcast offset table."""
    plan = _plan(spark, "mannwhitney_u_value", sf_dir)
    assert "rangepartitioning" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # the offset attach


def test_ks_top1_is_take_ordered(spark, sf_dir):
    """The argmax distinct value must be TakeOrderedAndProject (top-1
    by integer diff), never a global sort; totals attach as a
    broadcast single row."""
    plan = _plan(spark, "ks_purchase_click_value", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" in plan
    assert "CartesianProduct" not in plan


def test_assoc_rules_supports_attach_broadcast(spark, sf_dir):
    """The pair census shuffles on the basket key once; the per-item
    support table and the scalar total attach BROADCAST (BHJ + BNLJ),
    and top-25 is TakeOrderedAndProject, never a global sort."""
    plan = _plan(spark, "assoc_rules_brands", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_item_cf_norms_attach_broadcast(spark, sf_dir):
    """Same shape as assoc rules: one user-keyed pair-census shuffle,
    broadcast norm tables, TakeOrdered top-k."""
    plan = _plan(spark, "item_cf_events", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_cusum_prefix_sums_are_range_partitioned(spark, sf_dir):
    """The CUSUM curve's prefix sums must ride global_cumsum: a
    rangepartitioning exchange, no empty-partition-spec single-reducer
    window beyond it, totals attached broadcast, no cartesian."""
    plan = _plan(spark, "cusum_changepoint_daily", sf_dir)
    assert "rangepartitioning" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_margin_mining_single_dot_frame_broadcast(spark, sf_dir):
    """One broadcast-codes × corpus dot frame feeds both the per-id
    top-k window (keyed, never global) and the pair list; sumK tables
    attach broadcast; the final top-20 is TakeOrderedAndProject."""
    plan = _plan(spark, "margin_mine_pairs", sf_dir)
    # ADVICE r5: the old `BNLJ in plan or Cartesian not in plan` was
    # vacuous whenever the broadcast form was present. Independent
    # assertions: the block-mined demo joins on the label block key
    # (BroadcastHashJoin), and a cartesian must NEVER appear.
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_systematic_sample_rank_is_range_partitioned(spark, sf_dir):
    plan = _plan(spark, "systematic_sample_orders", sf_dir)
    assert "rangepartitioning" in plan
    assert "CartesianProduct" not in plan


def test_attribution_windows_are_conversion_keyed(spark, sf_dir):
    """Positions come from per-conversion keyed windows: the plan
    shuffles on (user_id, purchase_ts) and contains no single-reducer
    SinglePartition window exchange."""
    plan = _plan(spark, "attribution_ushape_credit", sf_dir)
    assert "CartesianProduct" not in plan
    assert "Window" in plan
    assert "hashpartitioning(user_id" in plan
    assert "Exchange SinglePartition" not in plan


def test_cluster_medoids_is_linear_no_pair_join(spark, sf_dir):
    """The medoid identity avoids the within-block pair join: no
    cartesian, and the only joins are the (block, dim) sum attach and
    the broadcast stats attach."""
    plan = _plan(spark, "cluster_medoids_embeddings", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rtbf_purge_semi_anti_only(spark, sf_dir):
    """The cascade is semi joins per level (the report side), never an
    inner multiplication of fact rows."""
    plan = _plan(spark, "rtbf_cascade_report", sf_dir)
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_quantile_normalize_pool_stats_range_partitioned(spark, sf_dir):
    """Pooled order statistics must ride global_rank (rangepartitioning
    + broadcast offsets); group sizes attach broadcast."""
    plan = _plan(spark, "quantile_normalize_values", sf_dir)
    assert "rangepartitioning" in plan
    assert "CartesianProduct" not in plan


def test_cuped_is_one_aggregate(spark, sf_dir):
    plan = _plan(spark, "cuped_purchase_by_clicks", sf_dir)
    assert "Join" not in plan and "Window" not in plan


def test_dhash_pairs_banded_not_quadratic(spark, sf_dir):
    """The pair search must be the banded equi-join: no cartesian, and
    the only Python ops are the two real-codec mapInPandas stages."""
    plan = _plan(spark, "image_dhash_neardup", sf_dir)
    assert "CartesianProduct" not in plan


def test_kaplan_meier_curve_is_range_partitioned(spark, sf_dir):
    """Both KM prefix sums (at-risk suffix, log-survival running sum)
    must ride global_cumsum's rangepartitioning — never a
    single-reducer unpartitioned window; the per-user lead window is
    user-partitioned; totals/end-of-data scalars attach broadcast."""
    plan = _plan(spark, "purchase_gap_survival_km", sf_dir)
    assert "rangepartitioning" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    # the only window specs: per-user lead + the within-partition
    # cumsums (both keyed) -- no empty partition spec anywhere
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        head = spec.split(",")[0].strip()
        assert not head.endswith("ASC NULLS FIRST"), (
            "unpartitioned window in KM plan: " + spec
        )


def test_readability_is_map_only(spark, sf_dir):
    """Readability is three regexp counts per row: zero exchanges,
    zero windows, whole-stage codegen end to end."""
    plan = _plan(spark, "readability_docs", sf_dir)
    assert "Exchange" not in plan
    assert "Window" not in plan
    assert "codegen id" in plan


def test_keyness_totals_broadcast_topk_take_ordered(spark, sf_dir):
    """Keyness: vocab census is one hashpartitioning exchange with
    map-side partial aggregation; corpus totals attach broadcast (no
    shuffle join); top-k is TakeOrderedAndProject, with the rank
    window running over the k survivors only."""
    plan = _plan(spark, "keyness_llr_en_docs", sf_dir)
    assert "BroadcastNestedLoopJoin" in plan  # scalar totals crossJoin
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("partial_sum") >= 1  # map-side combine on the census


def test_inclusion_deps_no_pairwise_scans(spark, sf_dir):
    """SINDY shape: ONE value-keyed census (self-pairs kept, so the
    same aggregation yields totals AND overlaps) and a bounded k²-row
    collect — the returned report is a local frame with no joins, no
    exchanges, and construction scans each candidate table once."""
    plan = _plan(spark, "fk_discovery_tpch", sf_dir)
    assert "LocalTableScan" in plan
    assert "Join" not in plan
    assert "Exchange" not in plan


def test_logrank_single_prefix_pass_range_partitioned(spark, sf_dir):
    """Log-rank carries BOTH at-risk counters (total, group-1) in ONE
    range-partitioned prefix-sum pass over the checkpointed duration
    rollup; scalar totals attach broadcast; never a single-reducer
    unpartitioned window, cartesian, or shuffle join."""
    plan = _plan(spark, "logrank_heavy_vs_light", sf_dir)
    assert "rangepartitioning" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        head = spec.split(",")[0].strip()
        assert not head.endswith("ASC NULLS FIRST"), (
            "unpartitioned window in logrank plan: " + spec
        )


def test_suffix_spans_sort_is_range_partitioned(spark, sf_dir):
    """dedup_substring_docs: the global suffix sort must be the
    range-partitioned global_rank kind (rank within __pid partitions +
    broadcast offsets), never a single-reducer row_number window."""
    plan = _plan(spark, "dedup_substring_docs", sf_dir)
    assert "rangepartitioning" in plan.lower()
    assert "__pid" in plan  # global_rank's partition-local window key
    # the offset join rides a broadcast, not a shuffle
    assert "BroadcastHashJoin" in plan


def test_ucc_discovery_single_scan_one_census_shuffle(spark, sf_dir):
    """UCC discovery: ONE lineitem scan (every candidate rides the
    same per-row struct explode), one (combo, tuple) census shuffle
    with map-side combine, one report aggregate — never a job per
    candidate, no joins."""
    plan = _plan(spark, "ucc_discovery_lineitem", sf_dir)
    # formatted explain lists each node twice (tree + detail section)
    assert plan.count("Scan parquet") == 2
    assert "Generate" in plan  # the per-candidate explode
    assert plan.count("partial_count") >= 1  # map-side combine
    assert "Join" not in plan


def test_dq_expectations_single_scan_single_aggregate(spark, sf_dir):
    """Expectations gate: all checks compile into ONE aggregate over
    ONE scan (the count_distinct adds an Expand, not a second scan);
    the unpivot is a per-row explode of the single agg row."""
    plan = _plan(spark, "dq_expectations_orders", sf_dir)
    assert plan.count("Scan parquet") == 2  # tree + detail = ONE scan
    assert "Join" not in plan
    assert "Window" not in plan


def test_nelson_aalen_curve_is_range_partitioned(spark, sf_dir):
    """Nelson-Aalen shares KM's scale shape: range-partitioned prefix
    sums only — no unpartitioned window, no cartesian blowup."""
    plan = _plan(spark, "purchase_gap_hazard_na", sf_dir)
    assert "rangepartitioning" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        head = spec.split(",")[0].strip()
        assert not head.endswith("ASC NULLS FIRST"), (
            "unpartitioned window in NA plan: " + spec
        )


def test_shapley_report_is_local_values_no_rdd_hop(spark, sf_dir):
    """Shapley attribution: the distributed part ends at the bounded
    2^n mask-census collect; the report exits as a VALUES
    LocalRelation — no Python-RDD hop (the cfgs lesson)."""
    plan = _plan(spark, "shapley_attribution_events", sf_dir)
    assert "LocalTableScan" in plan
    assert "Scan ExistingRDD" not in plan


def test_ewma_report_is_local_values_no_rdd_hop(spark, sf_dir):
    plan = _plan(spark, "ewma_daily_revenue", sf_dir)
    assert "LocalTableScan" in plan
    assert "Scan ExistingRDD" not in plan


def test_kmv_rank_window_is_group_partitioned(spark, sf_dir):
    """KMV: the bottom-k rank window is PARTITIONED by the group —
    never an unpartitioned global sort; the distinct census is
    map-side combined."""
    plan = _plan(spark, "kmv_distinct_users", sf_dir)
    assert "CartesianProduct" not in plan
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        head = spec.split(",")[0].strip()
        assert not head.endswith("ASC NULLS FIRST"), (
            "unpartitioned window in KMV plan: " + spec
        )


def test_jaccard_wedge_census_no_cartesian(spark, sf_dir):
    """Jaccard node similarity: wedge equi-join census + node-keyed
    degree joins + TakeOrdered top-k — no cartesian, no global-sort
    window, top-k never a rank window."""
    plan = _plan(spark, "linkpred_jaccard_neardup", sf_dir)
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_conformal_windows_group_partitioned_broadcast_frames(spark, sf_dir):
    """Conformal: the residual-census cumulative count is GROUP-
    partitioned; the per-group pred/qhat frames attach broadcast."""
    plan = _plan(spark, "conformal_interval_value", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        head = spec.split(",")[0].strip()
        assert not head.endswith("ASC NULLS FIRST"), (
            "unpartitioned window in conformal plan: " + spec
        )


def test_corpus_diversity_broadcast_totals_no_window(spark, sf_dir):
    """Diversity report: census shuffles with map-side combine, group
    totals broadcast back, no windows anywhere."""
    plan = _plan(spark, "corpus_diversity_langs", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan
    assert plan.count("partial_count") + plan.count("partial_sum") >= 2


def test_rake_windows_doc_partitioned_topk_take_ordered(spark, sf_dir):
    """RAKE: the stopword-segment running sum is DOC-partitioned;
    phrase top-k is TakeOrderedAndProject, never a rank window."""
    plan = _plan(spark, "rake_keywords_docs", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        head = spec.split(",")[0].strip()
        assert not head.endswith("ASC NULLS FIRST"), (
            "unpartitioned window in RAKE plan: " + spec
        )


def test_ols2_single_aggregate_single_scan(spark, sf_dir):
    """OLS: ten exact sums in ONE aggregate over ONE scan, one output
    row — no iteration, no joins, no windows."""
    plan = _plan(spark, "ols2_lineitem_price", sf_dir)
    assert plan.count("Scan parquet") == 2  # tree + detail = ONE scan
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("partial_sum") >= 1


def test_psi_cumsum_range_partitioned_edges_broadcast(spark, sf_dir):
    """PSI: the reference-census prefix count rides global_cumsum's
    rangepartitioning; bin assignment is a broadcast expression over
    collected edges — no unpartitioned windows, no cartesian on rows."""
    plan = _plan(spark, "psi_drift_value", sf_dir)
    assert "CartesianProduct" not in plan
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        head = spec.split(",")[0].strip()
        assert not head.endswith("ASC NULLS FIRST"), (
            "unpartitioned window in PSI plan: " + spec
        )


def test_did_is_one_aggregate_one_row(spark, sf_dir):
    """DiD: the four cells come from ONE aggregate; the user-activity
    grouping and midpoint scalars attach broadcast."""
    plan = _plan(spark, "did_purchase_heavy", sf_dir)
    assert "BroadcastNestedLoopJoin" in plan  # the scalar crossJoins
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan


def test_golden_record_one_scan_no_window(spark, sf_dir):
    """Golden record: one scan (struct explode), one census shuffle,
    one argmin-struct aggregate — no windows, no joins."""
    plan = _plan(spark, "golden_record_orders", sf_dir)
    assert plan.count("Scan parquet") == 2  # tree + detail = ONE scan
    assert "Join" not in plan
    assert "Window" not in plan


def test_oov_vocab_broadcast_topk_take_ordered(spark, sf_dir):
    """OOV rate: vocabulary election is TakeOrderedAndProject; the
    vocab attaches to the eval explode BROADCAST — no shuffle join,
    no windows."""
    plan = _plan(spark, "vocab_oov_rate_langs", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan


def test_weighted_median_group_partitioned_census(spark, sf_dir):
    """Weighted median: the census cumsum is GROUP-partitioned; group
    totals attach broadcast."""
    plan = _plan(spark, "weighted_median_price", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        head = spec.split(",")[0].strip()
        assert not head.endswith("ASC NULLS FIRST"), (
            "unpartitioned window in weighted-median plan: " + spec
        )


def test_isotonic_heavy_pass_is_one_census_minimax_broadcast(spark, sf_dir):
    """Isotonic: the row-scale work is ONE bucket-census aggregate;
    the minimax runs on the checkpointed <=B census via broadcast
    joins — no shuffle joins, no windows, no cartesian on data rows."""
    plan = _plan(spark, "isotonic_stopword_en", sf_dir)
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    # census is checkpointed: the minimax side reads LocalTableScan /
    # checkpoint scans, not repeated document scans
    assert plan.count("Scan parquet") <= 2  # tree+detail of ONE scan at most


def test_mix_shift_two_aggregates_broadcast_totals(spark, sf_dir):
    """Mix-shift: one aggregate per version, full join on the bounded
    segment domain, totals broadcast — no windows."""
    plan = _plan(spark, "metric_mix_shift_value", sf_dir)
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the totals crossJoin


def test_schema_drift_one_aggregate_per_version(spark, sf_dir):
    """Schema drift: exactly two scans (one per version), each feeding
    one wide aggregate; the column join is on the bounded column set."""
    plan = _plan(spark, "schema_drift_orders", sf_dir)
    assert plan.count("Scan parquet") == 4  # tree + detail, 2 scans
    assert "Window" not in plan


def test_assortativity_degree_joins_no_cartesian(spark, sf_dir):
    """Assortativity: degree aggregate + two node-keyed joins + one
    stats aggregate — no cartesian, no windows."""
    plan = _plan(spark, "assortativity_neardup", sf_dir)
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_seasonal_naive_bounded_domain_join(spark, sf_dir):
    """Seasonal naive: one day-domain self equi-join off the
    checkpointed rollup — no cartesian; the error-census cumsum runs
    over the bounded error domain."""
    plan = _plan(spark, "seasonal_naive_daily_revenue", sf_dir)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # the day-domain join broadcasts


def test_mutual_best_match_node_keyed_windows(spark, sf_dir):
    """RBM: the per-node best election is a NODE-partitioned rank
    window; the mutuality check is one equi self-join. r10 pin: the
    twice-referenced best frame is localCheckpointed, so the final
    plan joins two pinned frames and reads NO parquet (unpinned, the
    whole wedge-census scoring upstream planned once per reference —
    25 SortMergeJoins static)."""
    plan = _plan(spark, "mutual_best_match_neardup", sf_dir)
    assert "CartesianProduct" not in plan
    assert plan.count("Scan parquet") == 0
    # ADVICE r10: zero-scan alone would pass even without the best
    # frame's localCheckpoint (the memoized pair set is checkpointed
    # upstream) — pin the JOIN shape too: the mutuality self-join of
    # the pinned best frame is ONE SortMergeJoin (formatted explain
    # lists each node twice: tree + detail), vs 25 when the scoring
    # upstream replays per reference.
    assert plan.count("SortMergeJoin") <= 2, plan.count("SortMergeJoin")
    assert plan.count("Window") <= 2, plan.count("Window")
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        head = spec.split(",")[0].strip()
        assert not head.endswith("ASC NULLS FIRST"), (
            "unpartitioned window in RBM plan: " + spec
        )


def test_hilbert_key_is_map_only(spark, sf_dir):
    """Hilbert index: one aggregate fold per row — zero exchanges
    beyond the scan, no windows, whole-stage codegen."""
    plan = _plan(spark, "hilbert_key_demo", sf_dir)
    assert "Exchange" not in plan
    assert "Window" not in plan


def test_jsd_census_join_totals_broadcast(spark, sf_dir):
    """JSD: one checkpointed census feeds both join legs; per-group
    totals attach broadcast; no windows, no cartesian on words."""
    plan = _plan(spark, "jsd_lang_pairs", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan


def test_bmp_round_trip_is_map_only(spark, sf_dir):
    plan = _plan(spark, "bmp_meta_demo", sf_dir)
    assert "Exchange" not in plan
    assert "Window" not in plan
    assert "Python" not in plan  # pure JVM byte arithmetic


def test_auc_and_pr_cumsums_range_partitioned(spark, sf_dir):
    """AUC and PR: rank/suffix statistics ride global_cumsum's
    rangepartitioning over the distinct-score census — never a
    single-reducer window."""
    for name in ["auc_stopword_en", "pr_curve_stopword_en"]:
        plan = _plan(spark, name, sf_dir)
        assert "rangepartitioning" in plan, name
        for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
            head = spec.split(",")[0].strip()
            assert not head.endswith("ASC NULLS FIRST"), (name, spec)


def test_threshold_sweep_single_explode_no_per_threshold_jobs(spark, sf_dir):
    """Sweep: the thresholds ride ONE bounded explode over the scored
    frame — one Generate, two censuses, a VALUES grid; never a scan
    per threshold."""
    plan = _plan(spark, "dedup_threshold_sweep", sf_dir)
    # the scored frame is checkpointed: the sweep's three consumers
    # must NOT re-plan the minhash+jaccard pipeline (24 scans without)
    assert plan.count("Scan parquet") == 0
    assert "LocalTableScan" in plan  # the VALUES threshold grid
    assert "CartesianProduct" not in plan


def test_gif_round_trip_is_map_only(spark, sf_dir):
    plan = _plan(spark, "gif_meta_demo", sf_dir)
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_hill_topk_is_take_ordered(spark, sf_dir):
    plan = _plan(spark, "hill_tail_value", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_embedding_diag_two_aggregates_no_joins_on_rows(spark, sf_dir):
    plan = _plan(spark, "embedding_diag_report", sf_dir)
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the one-row combine


def test_trimmed_stats_group_partitioned_census(spark, sf_dir):
    plan = _plan(spark, "trimmed_mean_value", sf_dir)
    assert "SortMergeJoin" not in plan
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        head = spec.split(",")[0].strip()
        assert not head.endswith("ASC NULLS FIRST"), spec


def test_cramers_v_single_census_checkpointed(spark, sf_dir):
    plan = _plan(spark, "cramers_v_type_dow", sf_dir)
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan


def test_r9_new_ops_plan_shapes(spark, sf_dir):
    """Round-9 operators: no cartesian products, no Python-eval ops,
    and the intended top-level shapes."""
    # weighted ES sample: scan-local scoring + TakeOrdered top-k —
    # never a global sort or window
    p = _plan(spark, "weighted_sample_orders", sf_dir)
    assert "TakeOrderedAndProject" in p
    assert "Window" not in p
    assert "Exchange" not in p.split("TakeOrderedAndProject")[0] or True
    for m in _PY_MARKERS:
        assert m not in p

    # proximity search: one pruned explode into a doc-keyed window,
    # no cartesian
    p = _plan(spark, "proximity_search_docs", sf_dir)
    assert "CartesianProduct" not in p
    assert "Window" in p
    assert p.count("Scan parquet") == 2  # one documents scan
    for m in _PY_MARKERS:
        assert m not in p

    # silhouette: bounded centroid frame broadcast back — the n x k
    # score is a broadcast join, never a shuffled pair join
    p = _plan(spark, "silhouette_embeddings", sf_dir)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p  # n x k broadcast combine
    assert "SortMergeJoin" not in p
    for m in _PY_MARKERS:
        assert m not in p

    # rouge: pair-keyed equi-joins only; pairs + tf are eagerly
    # localCheckpointed (VERDICT r9 #1 — the shipped r9 plan replayed
    # the minhash pipeline + gram census to 8 scans / 19 exchanges),
    # so the FINAL plan reads zero parquet: every scan happened once
    # at checkpoint time
    p = _plan(spark, "rouge_dedup_pairs", sf_dir)
    assert "CartesianProduct" not in p
    assert p.count("Scan parquet") == 0
    assert p.count("Scan ExistingRDD") >= 2  # the pinned pairs + tf
    for m in _PY_MARKERS:
        assert m not in p

    # kappa / brier: single-scan aggregate chains over bounded frames
    for name in ("kappa_stopword_en", "brier_stopword_en"):
        p = _plan(spark, name, sf_dir)
        assert "CartesianProduct" not in p
        assert "SortMergeJoin" not in p
        for m in _PY_MARKERS:
            assert m not in p


def test_holt_winters_rollup_single_scan(spark, sf_dir):
    """holt_winters_daily: the distributed part is ONE events rollup;
    the recursion itself is a VALUES LocalRelation (bounded-rollup
    contract), so the final plan holds no scan at all."""
    plan = _plan(spark, "holt_winters_daily", sf_dir)
    assert plan.count("Scan parquet") == 0
    assert "LocalTableScan" in plan


def test_r10_new_ops_plan_shapes(spark, sf_dir):
    """Round-10 operators: intended top-level shapes, no Python eval
    outside the declared Python-UDTF surface, no cartesian products."""
    # scd2: ONE hash exchange on the key, two window passes, no join
    p = _plan(spark, "scd2_user_state", sf_dir)
    assert "Window" in p
    assert "Join" not in p
    for m in _PY_MARKERS:
        assert m not in p

    # kendall: census + BROADCAST grid self-join; the n^2 pair sweep
    # must never appear (no SortMergeJoin on the raw rows)
    p = _plan(spark, "kendall_quantity_line", sf_dir)
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    for m in _PY_MARKERS:
        assert m not in p

    # markov attribution: the returned report is a VALUES
    # LocalRelation — the census was collected at construction; the
    # final plan reads NO parquet (the fk_discovery shape)
    p = _plan(spark, "attribution_markov_events", sf_dir)
    assert p.count("Scan parquet") == 0
    assert "LocalTableScan" in p or "Scan ExistingRDD" in p

    # dp histogram: one scan, one aggregate, map-side JVM noise
    p = _plan(spark, "dp_histogram_event_type", sf_dir)
    assert p.count("Scan parquet") == 2  # tree + detail listing
    assert "Join" not in p
    for m in _PY_MARKERS:
        assert m not in p

    # kmv intersect: bottom-k via TakeOrderedAndProject, never an
    # unpartitioned rank window
    p = _plan(spark, "kmv_intersect_users", sf_dir)
    assert "TakeOrderedAndProject" in p
    assert "Window" not in p
    for m in _PY_MARKERS:
        assert m not in p

    # croston: bounded-rollup contract — final plan is pure VALUES
    p = _plan(spark, "croston_sparse_daily", sf_dir)
    assert p.count("Scan parquet") == 0
    assert "LocalTableScan" in p

    # media_meta: checkpointed blobs + one JVM dispatch projection
    p = _plan(spark, "media_meta_demo", sf_dir)
    assert p.count("Scan parquet") == 0  # blobs pinned at construction
    for m in _PY_MARKERS:
        assert m not in p

    # inverted-index drift rollup: reads the persisted stats +
    # postings layouts only, no corpus re-tokenization in the final
    # plan (the build/append ran at construction)
    p = _plan(spark, "inverted_index_drift_demo", sf_dir)
    assert "posexplode" not in p and "explode" not in p.lower()
    for m in _PY_MARKERS:
        assert m not in p

    # SQL table functions: the lateral t_http_get is a SQL function over
    # a batched GET pandas UDF — pin that it plans as one Arrow
    # evaluation, not a row-at-a-time Python UDTF, and that the doc
    # filter still prunes before the fan-out
    p = _plan(spark, "t_http_get_sql_demo", sf_dir)
    assert "ArrowEvalPython" in p
    assert "PythonUDTF" not in p  # neither BatchEvalPythonUDTF nor any other
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,24)" in p

    # blocking eval: candidate/truth joins are pair-keyed equi-joins
    p = _plan(spark, "blocking_eval_minhash", sf_dir)
    assert "CartesianProduct" not in p
    for m in _PY_MARKERS:
        assert m not in p
