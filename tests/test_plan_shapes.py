"""Physical-plan regression tests: the scale-design rules the catalog
relies on, asserted against the actual executed plans so a refactor that
silently reintroduces a shuffle, a cartesian product, or a global sort
fails CI — the 100 TB properties, checked at sf0.01.

(executedPlan before an action reflects the pre-AQE physical plan; the
shapes asserted here — join strategy, sort operators, exchange count —
are decided at planning time, which is exactly what we want to pin.)
"""

from __future__ import annotations

from amsterdam_map_data_wrangling_spark.plans.catalog import QUERIES

from .conftest import SF_ORACLE


def _plan(spark, name: str) -> str:
    df = QUERIES[name].build(spark, SF_ORACLE)
    return df._jdf.queryExecution().executedPlan().toString()


def test_star_join_broadcasts_both_dims(spark):
    plan = _plan(spark, "star_join_customers_by_region")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_uses_take_ordered_not_global_sort(spark):
    plan = _plan(spark, "topk_order_limit")
    assert "TakeOrderedAndProject" in plan


def test_chunking_has_zero_exchange(spark):
    plan = _plan(spark, "chunk_documents")
    assert "Exchange" not in plan


def test_no_cartesian_anywhere_in_pair_generators(spark):
    """Every near-dup/pair query must go through blocked equi-joins or
    in-bucket expansion — never a cartesian/broadcast-nested-loop over
    the corpus. (knn/ann queries DO cross-join against the tiny broadcast
    query set; that is the design, so they assert BroadcastNestedLoop
    only against the corpus-corpus case by exclusion here.)"""
    for name in [
        "dedup_ngram_jaccard",
        "dedup_minhash_pairs",
        "embedding_near_dup_pairs",
        "interval_join_click_error",
        "range_join_balance_bands",
        "interval_overlap_balances",
    ]:
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_window_aggs_have_no_final_sort(spark):
    """Scaling outputs must not end in a presentation sort (a full-result
    range exchange at 100 TB). The window() bucket assignment itself is
    narrow; only the agg exchange should appear."""
    for name in [
        "tumbling_window_stats",
        "sliding_window_by_type",
        "session_window_per_user",
    ]:
        plan = _plan(spark, name)
        # no top-level Sort: session_window needs an in-partition sort for
        # the merge, so assert specifically on rangepartitioning (the
        # global-sort exchange), not on Sort nodes
        assert "rangepartitioning" not in plan, name


def test_pushdown_reaches_parquet_scan(spark):
    plan = _plan(spark, "scan_filter_project")
    assert "PushedFilters: [" in plan
    # at least one real pushed predicate, not an empty list
    import re

    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and m.group(1).strip(), "no predicates pushed to parquet"


def test_salted_agg_is_two_stage(spark):
    """The salted aggregation must show two HashAggregate pairs (partial+
    final per stage) with the salt in the first grouping."""
    plan = _plan(spark, "salted_user_event_stats")
    assert plan.count("HashAggregate") >= 4
    # the salt expression (event_id % 8) must be a grouping key of the
    # first exchange (Catalyst renames the alias to _groupingexpression)
    assert "% 8" in plan
    assert plan.count("Exchange hashpartitioning") == 2


def test_brute_knn_never_exchanges_scored_relation(spark):
    """cosine_topk must reduce per-partition (MapInPandas partial top-k)
    BEFORE its only exchange: the |corpus|x|queries| scored relation stays
    in the scan stage and only <= partitions*|queries|*k survivor rows are
    shuffled for the merge window (VERDICT r2 'what's wrong' #3)."""
    plan = _plan(spark, "knn_cosine_brute")
    assert "MapInPandas" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    # top-down plan print: the merge exchange must CONSUME the partial
    # top-k output, i.e. appear above MapInPandas, not below it
    assert plan.index("Exchange hashpartitioning") < plan.index("MapInPandas")


def test_tfidf_build_runs_no_job(spark):
    """build() must be lazy: the corpus size is a broadcast 1-row agg in
    the plan, not a driver-side .count(), and the doc-term checkpoint is
    eager=False. A job during build would re-appear as an eager action
    (VERDICT r2 'what's wrong' #1)."""
    from amsterdam_map_data_wrangling_spark.sources.registry import load_tables

    # the first parquet load runs a file-listing job; warm the table cache
    # so the probe measures the build alone
    load_tables(spark, SF_ORACLE, ["documents"])
    sc = spark.sparkContext
    group = "tfidf-lazy-build-probe"
    sc.setJobGroup(group, "tfidf build must not run jobs")
    try:
        QUERIES["tfidf_top_terms"].build(spark, SF_ORACLE)
        jobs = spark._jsc.sc().statusTracker().getJobIdsForGroup(group)
        assert len(jobs) == 0, f"build() launched {len(jobs)} job(s)"
    finally:
        sc.setJobGroup("", "")


def test_salted_join_shuffles_not_broadcasts_big_side(spark):
    """The salted join must land in the shuffle (SortMergeJoin) regime
    with the salt as a join key — broadcasting the big side would bypass
    the reducer-spreading the operator exists for."""
    plan = _plan(spark, "salted_join_hot_customer")
    assert "SortMergeJoin" in plan
    assert "_salt" in plan
    assert "BroadcastHashJoin" not in plan.split("SortMergeJoin")[0], (
        "big side must not be broadcast into the salted join"
    )


def test_multimodal_dims_is_map_only(spark):
    """Header synthesis (hex concat -> unhex, codegen) + the mapInPandas
    parse must be one narrow pipeline: zero Exchange, zero join — payload
    bytes never leave the scanning task at any scale."""
    plan = _plan(spark, "multimodal_dims")
    assert "Exchange" not in plan
    assert "MapInPandas" in plan
    assert "Join" not in plan


def test_ivf_probe2_broadcasts_probes_never_corpus(spark):
    """nprobe=2 must add broadcast (qid, qcell) rows, NOT plan shape: the
    corpus-side assignment feeds one BroadcastHashJoin on the cell key
    (corpus never broadcast, never cartesian), and the only corpus
    exchange remains the per-query rank merge."""
    from amsterdam_map_data_wrangling_spark.operators.similarity import ivf_topk
    from amsterdam_map_data_wrangling_spark.plans.catalog import _t
    from amsterdam_map_data_wrangling_spark.plans.similarity import _QUERY_IDS

    (embeddings,) = _t(spark, SF_ORACLE, "embeddings")
    df = ivf_topk(embeddings, "vec_id", "embedding", _QUERY_IDS, 3, nprobe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the broadcast build side is the tiny literal probe relation
    assert plan.count("Exchange hashpartitioning") == 1


def test_pii_redaction_is_narrow_map_plus_one_agg_shuffle(spark):
    """The scrub pass must stay a narrow regex map feeding one tiny agg
    exchange on source — no join, no second shuffle, no Python."""
    plan = _plan(spark, "pii_redaction_stats")
    assert "Join" not in plan
    assert "MapInPandas" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_multimodal_audio_video_are_map_only(spark):
    """The audio/video header parses share the image contract: synthesis
    (hex concat -> unhex) + mapInPandas walk as one narrow pipeline —
    zero Exchange, zero join."""
    for name in ("audio_dims", "video_dims"):
        plan = _plan(spark, name)
        assert "Exchange" not in plan, name
        assert "MapInPandas" in plan, name
        assert "Join" not in plan, name


def test_runtime_bloom_filter_is_planted_on_fact_side(spark):
    """The runtime-filter join must carry Catalyst's injected bloom: a
    bloom_filter_agg subquery on the dim side and a might_contain filter
    on the fact scan, ahead of a shuffle join (broadcast disabled in the
    query's child session to model the 100 TB dim)."""
    df = QUERIES["runtime_bloom_filter_join"].build(spark, SF_ORACLE)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "might_contain" in optimized
    assert "bloom_filter_agg" in optimized
    physical = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in physical  # forced 100 TB shuffle shape


def test_funnel_groupby_reuses_window_partitioning(spark):
    """The funnel's per-user groupBy must ride the window's user_id hash
    partitioning — one wide exchange total (plus the 1-row final agg's
    single-partition exchange), one sort."""
    plan = _plan(spark, "funnel_conversion")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_zorder_is_narrow_map_plus_one_agg_exchange(spark):
    """The Morton interleave must stay a narrow codegen map: no join,
    exactly one hash exchange (the per-tile aggregate)."""
    plan = _plan(spark, "zorder_layout_stats")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_key_skew_profile_is_two_aggs_no_join(spark):
    """Key counts then histogram: two hash exchanges, nothing else."""
    plan = _plan(spark, "key_skew_profile")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 2


def test_cms_probe_join_broadcasts_the_sketch(spark):
    """The CMS probe must broadcast the fixed-size counter relation —
    never shuffle or nested-loop the corpus against it."""
    plan = _plan(spark, "cms_heavy_hitters")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_expectations_fk_rule_uses_anti_join(spark):
    """Referential integrity must run as a LEFT ANTI join, not a per-row
    NOT IN subquery."""
    plan = _plan(spark, "expectations_report")
    assert "LeftAnti" in plan


def test_local_supplier_volume_join_pipeline(spark):
    """The 6-table Q5-shape join: the three dims ride broadcast joins
    (zero exchanges for the deep tail), fact-fact joins shuffle, and
    nothing degenerates to a nested loop."""
    plan = _plan(spark, "local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_contamination_benchmark_side_broadcast(spark):
    """The benchmark shingle set is small by nature, so the corpus-vs-
    benchmark match must be a map-side broadcast hash join — the corpus
    shingle stream must never shuffle for the join."""
    plan = _plan(spark, "benchmark_contamination")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_mixture_rates_broadcast(spark):
    """The per-source rate relation is one row per source: the sampling
    join must broadcast it, never shuffle the corpus on source."""
    plan = _plan(spark, "mixture_proportional_sample")
    assert "BroadcastHashJoin" in plan


def test_snapshot_diff_joins_on_key_without_nested_loop(spark):
    """The snapshot diff is one key-equi full outer join over narrow
    (key, fingerprint) projections — a sort-merge (or hash) join, never
    a nested loop, and no full-row shuffle (the fingerprint is computed
    before the exchange, so only key+fp cross the wire)."""
    plan = _plan(spark, "snapshot_table_diff")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "FullOuter" in plan


def test_dup_span_coverage_no_self_join_no_nested_loop(spark):
    """The substring-dedup metric must stay a gram-hash agg + hash join
    + per-doc window — never a corpus self-join or nested loop."""
    plan = _plan(spark, "dup_span_coverage")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_gap_sessionization_single_wide_exchange(spark):
    """Both windows (lag + running sum) and the per-session aggregate
    must reuse ONE user_id hash exchange; only the tiny global agg may
    add a singleton exchange."""
    plan = _plan(spark, "gap_sessionization")
    assert plan.count("Exchange hashpartitioning") == 1


def test_q7_shape_broadcasts_dims_and_shuffles_facts(spark):
    """nation_volume_shipping: supplier + both nation copies must
    broadcast; only the two fact joins (lineitem-orders,
    orders-customer) may shuffle."""
    plan = _plan(spark, "nation_volume_shipping")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_geo_radius_broadcasts_probes_zero_corpus_exchange(spark):
    """geo_haversine_radius: the 27-row (landmark x 3x3 offset) probe
    relation must broadcast into an EQUI hash join on the cell id — the
    point corpus is never shuffled, never range-joined, never crossed."""
    plan = _plan(spark, "geo_haversine_radius")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") == 0


def test_geo_nn_equi_join_one_corpus_shuffle_plus_window(spark):
    """geo_nn_on_sphere: the 3x3 neighborhood must be an EQUI join on
    the exploded cell id (never a BETWEEN-range BNLJ / cartesian); the
    only hash exchanges are the join's (when not broadcast at this SF)
    and the per-point rank window."""
    plan = _plan(spark, "geo_nn_on_sphere")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )
    assert plan.count("Exchange hashpartitioning") <= 3
