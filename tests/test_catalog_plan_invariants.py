"""Catalog-wide physical-plan invariants: the anti-patterns that kill a
100 TB run must stay out of EVERY query's plan, not just the ones with
dedicated shape tests. One build+explain pass over the full registry.
"""

from __future__ import annotations

from amsterdam_map_data_wrangling_spark.plans.catalog import QUERIES

from .conftest import SF_ORACLE

#: crossJoins whose build side is a broadcast 1-row / fixed-size
#: relation — the intended uses of BroadcastNestedLoopJoin (query-vector
#: broadcast, corpus-size scalar, salt replication, 1-row agg stitches).
BNLJ_WHITELIST = {
    "dedup_keep_canonical",  # 1-row stats x 1-row total
    "knn_cosine_brute",  # tiny broadcast query set vs corpus scoring
    "tfidf_top_terms",  # broadcast 1-row corpus size
    "salted_join_hot_customer",  # salt-id replication of the small side
    "expectations_report",  # 1-row rule aggregates stitched together
    "benchmark_contamination",  # three 1-row aggregates stitched to one row
    "null_semantics_audit",  # four 1-row aggregates stitched to one row
    # ---- r07 queue graduates (all broadcast 1-row scalar stitches) ----
    "winsorize_price_stats",  # broadcast 1-row percentile cut points
    "unigram_lm_scores",  # broadcast 1-row (n_total, n_vocab) model totals
    "sparse_cosine_pairs",  # broadcast 1-row n_docs stitch (as tfidf_top_terms)
    "near_dup_transitivity",  # three 1-row graph aggregates → one row
    "decontaminate_stats",  # corpus/clean/residual 1-row counts → one row
    "bm25_search",  # broadcast 1-row (n_docs, n_toks) statistics stitch
    "near_dup_pagerank",  # broadcast 1-row node-count teleport stitch
    "ann_sq8_rerank",  # tiny broadcast query-code set vs corpus scoring
    "incremental_dedup_stats",  # three 1-row census aggregates → one row
    "leakage_free_split",  # 1-row leaked-pairs audit stitched to 2 rows
    # ---- plans/r08_queue.py ----
    "minhash_recall_curve",  # broadcast 1-row recall denominators stitch
    "ks_split_drift",  # broadcast 1-row (n_train, n_holdout) totals
    "chi2_type_weekday",  # broadcast 1-row grand-total stitch
    "rfm_segment_counts",  # broadcast 1-row global max order date
    "basket_lift_pairs",  # broadcast 1-row basket-count stitch
    "ab_test_zscore",  # broadcast 1-row above-average-threshold stitch
    "revenue_concentration",  # two broadcast 1-row scalar stitches
}

#: the deliberate row-Python surface gates; everything else must stay
#: JVM-side or Arrow-batched.
ROW_PYTHON_WHITELIST = {"chunk_documents_udtf"}


def test_no_scale_killers_in_any_catalog_plan(spark):
    offenders: dict[str, list[str]] = {}
    for name, spec in QUERIES.items():
        plan = (
            spec.build(spark, SF_ORACLE)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        if "CartesianProduct" in plan:
            offenders.setdefault("CartesianProduct", []).append(name)
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_WHITELIST:
            offenders.setdefault("BroadcastNestedLoopJoin", []).append(name)
        if "BatchEvalPython" in plan and name not in ROW_PYTHON_WHITELIST:
            offenders.setdefault("row-Python (BatchEvalPython)", []).append(name)
    assert not offenders, (
        "scale-killer operators crept into catalog plans: "
        f"{offenders} — fix the plan or (only for a genuinely "
        "broadcast-tiny crossJoin) extend the whitelist with a comment"
    )


def test_bnlj_whitelist_is_not_stale(spark):
    """Every whitelisted name must still (a) exist and (b) actually use
    BNLJ — otherwise the whitelist silently over-allows."""
    for name in BNLJ_WHITELIST | ROW_PYTHON_WHITELIST:
        assert name in QUERIES, f"whitelist names unknown query {name}"
    for name in sorted(BNLJ_WHITELIST):
        plan = (
            QUERIES[name]
            .build(spark, SF_ORACLE)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastNestedLoopJoin" in plan, (
            f"{name} no longer uses BNLJ — drop it from the whitelist"
        )
